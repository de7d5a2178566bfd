"""Streaming jobs (SURVEY.md §2.C) — Structured Streaming twins of the
reference's Flink surface, driven by file-stream fixtures + availableNow.

The flagship job (s_tumble) is the Spark rendition of the reference's only
running streaming query (/root/reference/flink/sql/weather-aggregation.sql:
38-49): event-time extraction from a stringly payload (line 6), 5-second
bounded watermark (line 7), tumbling-window AVG + COUNT per key (41-49).
The rest covers the Flink-SQL capability surface the reference ships
(HOP/SESSION windows, stateful dedup) per SURVEY.md §2.C.

Validation model (§5.2): two independent layers.  (1) BATCH EQUIVALENCE —
the same operator over the same fixture as a batch DataFrame must produce
the same rows (tests/test_streaming.py).  (2) Full DuckDB oracles on every
registered `s_*` query: the flush-sentinel drain makes each job's final
state deterministic and equal to a batch aggregation, which IS
ANSI-SQL-expressible (see the comment above s_tumble) — so the driver's
hash check covers streaming, not just rows-only.

Registered callables take (spark, sf_dir) like every query, materialize
the landing fixture, drain the stream, and return the result as a batch
DataFrame.  Checkpoints/landing live under /tmp/dpc_stream (fixture reuse
across calls); at scale these are object-store paths.

100 TB notes: every job is a single keyed-state operator after one shuffle
on (key, window); watermarks bound state (C2/C6 — without them windowed
state grows forever); `maxFilesPerTrigger` is the file-source equivalent of
Kafka `maxOffsetsPerTrigger` for micro-batch sizing; sink cadence mirrors
the reference's 10 s Iceberg commit (trigger interval, A5/C8).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_cursor_spark.functions.math_ops import stable_round4
from data_pipeline_cursor_spark.registry import register
from data_pipeline_cursor_spark.sources import load_table
from data_pipeline_cursor_spark.streaming.sources import (
    FIXTURE_WATERMARK,
    FLUSH_TYPE,
    DrainReport,
    drain,
    drain_state_parts,
    read_event_stream,
    stream_state_partitions,
    write_landing_fixture,
    write_ordered_landing_fixture,
)

_WORK_ROOT = os.path.join(tempfile.gettempdir(), "dpc_stream")

_PRUNED = False


def _prune_stale(max_age_s: int = 6 * 3600) -> None:
    """Drop work dirs (checkpoints, uuid-fresh sink outputs) older than
    max_age_s — every streaming query makes a fresh one, so without this
    the work root grows without bound across benchmark/test runs (~1 GB
    per session observed).  Landing fixtures are exempt: they are
    content-keyed and REUSED across runs.  The per-pid format and
    fixture-table roots are swept by ``formats._work_dir``.  Once per
    process."""
    global _PRUNED
    if _PRUNED:
        return
    _PRUNED = True
    import shutil
    import time

    cutoff = time.time() - max_age_s
    for family in (
        "ckpt", "lakehouse", "serving", "serving-backfill", "late",
        "annserve",
    ):
        root = os.path.join(_WORK_ROOT, family)
        if not os.path.isdir(root):
            continue
        for name in os.listdir(root):
            p = os.path.join(root, name)
            try:
                if _newest_mtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass


def _newest_mtime(path: str) -> float:
    """Newest mtime anywhere in the tree — a live checkpoint's TOP-level
    mtime is its creation time (nested offset/state writes don't refresh
    it), so pruning on top-level mtime could delete the working state of a
    concurrent process older than the cutoff.  Work dirs are small (tens of
    files), so the walk is cheap."""
    newest = os.path.getmtime(path)
    for dirpath, _dirnames, filenames in os.walk(path):
        try:
            newest = max(newest, os.path.getmtime(dirpath))
            for f in filenames:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
        except OSError:
            continue
    return newest


def _work(*parts: str) -> str:
    _prune_stale()
    p = os.path.join(_WORK_ROOT, *parts)
    os.makedirs(p, exist_ok=True)
    return p


def _ckpt(name: str) -> str:
    # fresh checkpoint per invocation: availableNow + memory sink rebuild
    import uuid

    return _work("ckpt", name + "-" + uuid.uuid4().hex[:8])


# events-fixture size past which s_ewma_state drains as ONE availableNow
# batch instead of the 4-file multi-batch replay — see its docstring's
# micro-batch-sizing note (state-echo volume measurement, round 9)
_EWMA_SINGLE_BATCH_BYTES = 64 * 1024 * 1024


def _tree_bytes(path: str) -> int:
    """Total bytes under a file or directory — the cheap corpus statistic
    the micro-batch sizing rule derives from (parquet footprint ∝ rows).

    A MISSING path is an error, not an empty fixture: os.walk on a
    nonexistent dir yields nothing, which would silently select the
    small-fixture multi-batch path for a mistyped sf_dir (round-9 ADVICE
    item 3) — the downstream read would fail anyway, but with a less
    readable error."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"events table path does not exist: {path}")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


#: Data micro-batches per UNORDERED drain.  Two is the minimal realistic
#: multi-batch replay (state must carry across at least one batch
#: boundary); the trigger width is DERIVED from the landing file count so
#: the flush sentinel rides the LAST data batch instead of getting a
#: micro-batch of its own — the watermark is recomputed at END of batch
#: regardless of which file carried the sentinel, so the drained result
#: is identical while each drain sheds one full fixed-cost batch
#: (~0.4-0.6 s of state-commit/WAL/offset-log floor, measured round 14;
#: across ~20 unordered drains that batch was ~10 s of the suite).
UNORDERED_DRAIN_BATCHES = 2

# derivation sentinel: "pick the width that yields UNORDERED_DRAIN_BATCHES
# batches over the landing dir, sentinel included" (None stays "one big
# availableNow batch", an explicit int stays an explicit override)
DERIVE_TRIGGER = "derive"


def derived_trigger_width(landing: str) -> int:
    """maxFilesPerTrigger giving UNORDERED_DRAIN_BATCHES micro-batches
    over the landing dir INCLUDING the flush sentinel — ceil(n_files /
    batches).  Counting real files (not assuming the writer's layout)
    keeps the derivation correct if the fixture's partitioning changes."""
    n = sum(1 for f in os.listdir(landing) if f.endswith(".json"))
    return max(1, -(-n // UNORDERED_DRAIN_BATCHES))


def _stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None | str = DERIVE_TRIGGER,
) -> DataFrame:
    landing = write_landing_fixture(spark, sf_dir, _work("landing"))
    if max_files_per_trigger == DERIVE_TRIGGER:
        max_files_per_trigger = derived_trigger_width(landing)
    return read_event_stream(spark, landing, max_files_per_trigger)


def _drain_state_parts(sf_dir: str) -> int:
    """State-store width for one registered drain: the one width rule
    (sources.drain_state_parts) applied to the events footprint."""
    from data_pipeline_cursor_spark.sources.tables import table_path

    return drain_state_parts(_tree_bytes(table_path(sf_dir, "events")))


def _drain(
    name: str, sf_dir: str, stream_df: DataFrame, sink=None, **kw
) -> DrainReport:
    """A registered job's drain: a fresh checkpoint named for the job and
    the state width derived from ``sf_dir``'s events footprint."""
    return drain(
        stream_df, _ckpt(name), sink, state_parts=_drain_state_parts(sf_dir), **kw
    )


# Watermark delay for jobs replaying the ORDERED fixture: the disorder
# bound there is zero across micro-batch boundaries (range slices), so any
# positive delay is drop-safe; one hour keeps a realistic late-data margin
# while making the in-horizon state buffer ~(one batch span + 1 h) — the
# eviction evidence the unordered fixture's 35-day delay can never produce.
ORDERED_WATERMARK = "1 hour"


#: Data micro-batches per ordered-fixture drain (plus the sentinel /
#: finalize batches).  The replay needs SEVERAL watermark advances so the
#: horizon fold provably triggers (tests pin max_buf*2 <= history), but the
#: per-batch floor is ~0.6-0.8 s of fixed planning/state-commit work even
#: for a 0-row batch (measured round 13, probe in OPTIMIZATION_r13.md) —
#: so the batch COUNT must not scale with the corpus.  Round 12 fixed
#: maxFilesPerTrigger=4 while the slice count scaled with fixture bytes:
#: 9 batches at sf0.1 grew to ~65 at sf10, i.e. ~40 s of pure per-batch
#: overhead (guide §2: derive scale knobs, don't fix them).
ORDERED_DRAIN_BATCHES = 4

#: Ceiling on the derived trigger width (slices/batch ≈ 2 MB each, so 32
#: slices ≈ the same 64 MB per-batch budget _EWMA_SINGLE_BATCH_BYTES
#: encodes): the batch-count derivation alone would let the per-batch
#: SPAN — and with it the in-horizon state buffer, which is O(batch span
#: + horizon) — grow linearly with the corpus (measured 71 MB live-state
#: peak at sf10 with corpus/4 batches).  Capping the width makes the
#: drain O(1) batches until the state budget binds, then batch count
#: grows and per-batch state stays bounded — the same contract a
#: production trigger clock gives.
ORDERED_MAX_BATCH_FILES = 32


def _stream_ordered(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Event stream over the time-ordered landing fixture — the replay
    shape for jobs whose keyed state folds at the watermark horizon
    (s_funnel, s_ewma_horizon).  Same record contract as _stream; only
    arrival order (and therefore watermark progression) differs, which
    no drained RESULT may depend on.

    Slice count is DERIVED from the fixture footprint (~2 MB of events
    per slice, clamped to [32, 256]) — the repo's derived-scale-knob
    rule: a fixed width would make the per-batch span (and therefore the
    in-horizon state buffer) a constant FRACTION of the corpus instead
    of a bounded window; a production stream's micro-batch span is set
    by the trigger clock, not the corpus length.

    max_files_per_trigger=None (default) derives the trigger width from
    the slice count so every drain is ORDERED_DRAIN_BATCHES data batches
    — capped at ORDERED_MAX_BATCH_FILES slices per batch so the
    per-batch span (and the in-horizon state buffer it bounds) never
    exceeds the state budget however large the corpus gets.  The
    watermark still advances through the corpus (the eviction evidence
    the fixture exists for — each batch folds the prior span), while
    the per-batch fixed cost stays O(1) per drain until the state
    budget binds.  Pass an explicit int to override."""
    from data_pipeline_cursor_spark.sources.tables import table_path

    ev_bytes = _tree_bytes(table_path(sf_dir, "events"))
    n_files = int(min(256, max(32, ev_bytes // (2 << 20))))
    if max_files_per_trigger is None:
        # +1: the flush sentinel counts toward the file budget, so it
        # rides the LAST data batch instead of triggering one of its own
        # — the watermark updates at end-of-batch either way, and the
        # finalize batch still runs (round-14; same argument as
        # derived_trigger_width on the unordered fixture)
        max_files_per_trigger = min(
            -(-(n_files + 1) // ORDERED_DRAIN_BATCHES), ORDERED_MAX_BATCH_FILES
        )
    landing = write_ordered_landing_fixture(
        spark, sf_dir, _work("landing"), n_files
    )
    return read_event_stream(spark, landing, max_files_per_trigger)


def _with_fixture_watermark(df: DataFrame, delay: str = FIXTURE_WATERMARK) -> DataFrame:
    """Watermark over the raw stream.  NOTE: do NOT filter the flush
    sentinel here — Catalyst pushes a time-independent filter BELOW the
    EventTimeWatermark node and the sentinel would never advance the
    watermark.  Jobs drop sentinel rows from their OUTPUT instead (the
    sentinel's own window never finalizes in append mode anyway)."""
    return df.withWatermark("event_time", delay)


def _drop_flush(df: DataFrame) -> DataFrame:
    """Remove sentinel-keyed rows from a BATCH result (the upsert job's
    serving-table read).  Never attach this to a STREAMING plan: the
    predicate is on a grouping column, so Catalyst pushes it through the
    aggregate and the EventTimeWatermark node into the JSON parser itself —
    the sentinel then never reaches the watermark and no window finalizes.
    Append-mode jobs don't need it anyway: the sentinel's own window ends
    35 days past the final watermark and is never emitted."""
    return df.filter(F.col("event_type") != FLUSH_TYPE)


def tumble_agg(df: DataFrame, with_watermark: bool = True) -> DataFrame:
    """The flagship aggregation: 5-min tumbling window per event_type.

    (The fixture's event spacing is minutes, not the reference's seconds;
    window length scales accordingly — semantics identical.)"""
    if with_watermark:
        df = _with_fixture_watermark(df)
    return (
        df.groupBy(F.window("event_time", "5 minutes"), F.col("event_type"))
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


# Why streaming jobs can carry full DuckDB oracles at all: the landing
# fixture ends with a flush sentinel 40 days past the corpus and the
# watermark is 35 days, so (a) no real row is ever late-dropped and (b) the
# trailing sentinel finalizes EVERY real window before the availableNow
# drain returns — the drained append-mode result equals the batch
# aggregation over the same events, which IS ANSI-SQL-expressible.  The
# landing round-trip truncates ts to seconds (date_format 'yyyy-MM-dd
# HH:mm:ss'), which cannot move an event across a minute-aligned window
# boundary (flooring to the second never crosses a second-aligned edge),
# so the oracles may bucket the raw table directly; only the session-gap
# oracle must truncate explicitly because GAPS compare two timestamps.
@register(
    "s_tumble",
    oracle="""
    SELECT make_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
             AS window_start,
           make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT)+1)*300*1000000)
             AS window_end,
           event_type,
           CAST(ROUND(CAST(AVG(value) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS avg_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def s_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+C2+C3: event-time parse → watermark → tumbling AVG/COUNT,
    append mode (finalized windows only)."""
    return _drain("tumble", sf_dir, tumble_agg(_stream(spark, sf_dir))).table


@register(
    "s_sliding",
    oracle="""
    -- hop(10 min, 5 min): an event in 5-min bucket k belongs to the
    -- windows starting at buckets k and k-1 (each window spans 2 buckets)
    SELECT make_timestamp(
             (CAST(floor(epoch(ts)/300) AS BIGINT) - off.o)*300*1000000
           ) AS window_start,
           event_type,
           CAST(ROUND(CAST(AVG(value) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS avg_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events CROSS JOIN (VALUES (0), (1)) AS off(o)
    GROUP BY 1, 2
    """,
)
def s_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: hopping window (10-min length, 5-min slide) — each event lands
    in 2 windows; Flink HOP twin."""
    df = _with_fixture_watermark(_stream(spark, sf_dir))
    agg = (
        df.groupBy(
            F.window("event_time", "10 minutes", "5 minutes"), F.col("event_type")
        )
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
    )
    return _drain("sliding", sf_dir, agg).table


@register(
    "s_session",
    oracle="""
    -- gaps-and-islands replay of session_window(event_time, '30 minutes'):
    -- Spark MERGES an event landing exactly at the previous session's
    -- close boundary (verified empirically: two events exactly 30 min
    -- apart form ONE session), so a session breaks only when the gap is
    -- STRICTLY GREATER than the timeout — hence `>` below, never `>=`.
    -- session_end is the last event + gap.  Times truncated to seconds to
    -- mirror the landing fixture's ts round-trip, because gap comparison
    -- is µs-sensitive.
    WITH e AS (
      SELECT event_type, date_trunc('second', ts) AS t FROM events
    ), flagged AS (
      SELECT event_type, t,
             CASE WHEN LAG(t) OVER w IS NULL
                    OR t - LAG(t) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY t)
    ), sess AS (
      SELECT event_type, t,
             SUM(new_s) OVER (PARTITION BY event_type ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT MIN(t) AS session_start,
           MAX(t) + INTERVAL 30 MINUTE AS session_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY event_type, sid
    """,
)
def s_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: session windows (30-min gap) per event_type — state merges
    adjacent sessions; full gaps-and-islands DuckDB oracle."""
    df = _with_fixture_watermark(_stream(spark, sf_dir))
    agg = (
        df.groupBy(
            F.session_window("event_time", "30 minutes"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "event_type",
            "n_events",
        )
    )
    return _drain("session", sf_dir, agg).table


@register(
    "s_dedup_stream",
    oracle="""
    -- PRECONDITION (canary-asserted): fixture event_ids are unique, so
    -- first-wins dedup keeps every row and per-group COUNT(DISTINCT) equals
    -- COUNT(*).  With replayed ids the stream's keeper is ARRIVAL-order
    -- dependent (not min-ts), so no SQL oracle could pin it — if the canary
    -- ever reports duplicate ids, demote this query to rows-only instead
    -- of patching the SQL
    SELECT make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)*3600*1000000)
             AS window_start,
           event_type,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events
    GROUP BY 1, 2
    """,
)
def s_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: stateful streaming dedup on event_id within the watermark delay —
    `dropDuplicatesWithinWatermark`, the bounded-state form of Flink's
    dedup pattern.  Result: per-type surviving-event counts."""
    df = _with_fixture_watermark(_stream(spark, sf_dir))
    dedup = df.dropDuplicatesWithinWatermark(["event_id"])
    agg = dedup.groupBy(
        F.window("event_time", "60 minutes"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n_unique"))
    out = agg.select(
        F.col("window.start").alias("window_start"), "event_type", "n_unique"
    )
    return _drain("dedup", sf_dir, out).table


@register(
    "s_lakehouse_append",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d-%H') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(AVG(value) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def s_lakehouse_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+C8+B13: the lakehouse sink — partitioned Parquet append with a
    periodic-commit trigger, the Spark rendition of the reference's Kafka
    Connect Iceberg sink (/root/reference/run.sh:88-114: append, hour(ts)
    partitioning, 10 s commit cadence).

    Partition transform = hour bucket of event time (B13); zstd Parquet
    (engine-wide conf) mirrors init-tables.sql:7-8.  Returns the written
    table read back (rows-only check: files exist, rows survive).

    Schema evolution (run.sh:97-98 auto-create + evolve-schema): a
    producer growing the payload is handled by redeploying this job with
    the widened source schema on the same checkpoint/path — the sink
    appends wider files and `catalog.read_lakehouse_evolved` (mergeSchema)
    serves the union with old rows null-extended; see
    tests/test_streaming.py::test_lakehouse_schema_evolution_null_extends."""
    import uuid

    df = (
        # stateless append: one availableNow batch — every extra micro-batch
        # re-commits all ~720 touched hour dirs (3 batches ≈ 3× wall-clock)
        _stream(spark, sf_dir, max_files_per_trigger=None)
        .filter(F.col("event_type") != FLUSH_TYPE)
        .withColumn("hour", F.date_format("event_time", "yyyy-MM-dd-HH"))
        # co-locate each hour in one task: without this every input task
        # opens a writer for every hour it sees → |tasks|×|hours| tiny
        # files (observed 10× slower at sf0.1) and a metadata-bloated table.
        # Explicit width: AQE coalesces the tiny shuffle to ~2 tasks, which
        # then open the ~720 hour-dir writers serially — file-open/commit
        # latency, not bytes, is the cost, so keep all cores writing.
        .repartition(spark.sparkContext.defaultParallelism, F.col("hour"))
    )
    out_dir = _work("lakehouse", uuid.uuid4().hex[:8])
    drain(df, _ckpt("lakehouse"), (out_dir, ["hour"]))
    written = spark.read.parquet(out_dir)
    return written.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_rows"),
        stable_round4(F.avg("value")).alias("avg_value"),
    )


@register(
    "s_watermark_late",
    oracle="""
    -- exact expected output over the synthetic 4-file landing sequence:
    -- append mode finalizes only [10:00,10:05) (the final watermark 10:28
    -- never passes the 10:30 window's end), WITHOUT the too-late 999.0
    -- replay — so avg stays 15.0 over events 1 and 2.  A constant oracle
    -- is the strongest possible check here: it pins the drop semantics to
    -- one literal row.
    SELECT TIMESTAMP '2024-01-01 10:00:00' AS window_start,
           TIMESTAMP '2024-01-01 10:05:00' AS window_end,
           'click' AS event_type,
           CAST(15.0 AS DOUBLE) AS avg_value,
           CAST(2 AS BIGINT) AS n_events
    """,
)
def s_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2+C6: late-data semantics under a bounded watermark.

    A 4-file landing sequence, one file per micro-batch (the reference's
    5-unit delay scaled to the fixture's minutes):

      f1  on-time events for window [10:00,10:05)
      f2  event @10:30 → advances the watermark to 10:25, past that window
      f3  spacer batch — Spark applies a newly-computed watermark to late-
          event filtering only from the NEXT batch (the eviction watermark
          and the late-filter watermark are one batch apart)
      f4  a TOO-LATE replay into the closed window (must be dropped — the
          Flink drop behavior, weather-aggregation.sql:7) + an in-delay
          event for a still-open window

    Append mode emits [10:00,10:05) exactly once, without the replay row
    (tests assert avg 15.0 / count 2).  Refinement-instead-of-drop is the
    upsert sink's job (s_upsert_foreachbatch)."""
    import json
    import time
    import uuid

    work = _work("late", uuid.uuid4().hex[:8])
    landing = os.path.join(work, "landing")
    os.makedirs(landing, exist_ok=True)
    base = "2024-01-01 10:{m:02d}:00"
    files = [
        [
            {"event_id": "1", "event_type": "click", "value": "10.0", "ts": base.format(m=1)},
            {"event_id": "2", "event_type": "click", "value": "20.0", "ts": base.format(m=2)},
        ],
        [{"event_id": "3", "event_type": "click", "value": "30.0", "ts": base.format(m=30)}],
        [{"event_id": "4", "event_type": "click", "value": "31.0", "ts": base.format(m=32)}],
        [
            {"event_id": "5", "event_type": "click", "value": "999.0", "ts": base.format(m=3)},
            {"event_id": "6", "event_type": "click", "value": "40.0", "ts": base.format(m=33)},
        ],
    ]
    # strict mtime order, all IN THE PAST: the file source skips files
    # stamped ahead of the query clock, so a future mtime makes the stream
    # idle until wall-clock catches up (observed +40 s on this 7-row job)
    now = time.time() - 300
    for i, rows in enumerate(files):
        p = os.path.join(landing, f"batch_{i}.json")
        with open(p, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (now + 10 * i, now + 10 * i))

    # one file per micro-batch so the watermark advances between files;
    # 5-minute delay like the reference (scaled)
    from data_pipeline_cursor_spark.streaming.sources import EVENT_SCHEMA

    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(landing)
    )
    typed = raw.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss").alias("event_time"),
    )
    agg = tumble_agg(typed.withWatermark("event_time", "5 minutes"), False)
    return _drain("late", sf_dir, agg).table


@register(
    "s_upsert_foreachbatch",
    oracle="""
    -- final serving-table state after the drain = the batch tumbling
    -- aggregation: update mode re-emits refined windows and the keyed
    -- MERGE overwrites, so the last write per (event_type, window_start)
    -- carries the full-corpus aggregate
    SELECT make_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
             AS window_start,
           make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT)+1)*300*1000000)
             AS window_end,
           event_type,
           CAST(ROUND(CAST(AVG(value) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS avg_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def s_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 (§4.3 custom piece): tumbling aggregation in update mode MERGEd
    into the keyed serving table via foreachBatch — the Spark rendition of
    Flink's PK upsert into Postgres (weather-aggregation.sql:20-35).

    Late-but-in-watermark rows REFINE their window's serving row (update
    mode re-emits it; the MERGE overwrites on (event_type, window_start)) —
    semantics the append-mode jobs can't express.  Returns the final
    serving table keyed uniquely, minus the nondeterministic last_updated
    column (B12 covered: the sink stamps CURRENT_TIMESTAMP like
    init-analytics-db.sql:8)."""
    import uuid

    from data_pipeline_cursor_spark.streaming.sinks import (
        read_serving_table,
        run_upsert_stream,
    )

    table_dir = _work("serving", uuid.uuid4().hex[:8])
    agg = tumble_agg(_stream(spark, sf_dir))
    run_upsert_stream(
        agg, table_dir, _ckpt("upsert"), state_parts=_drain_state_parts(sf_dir)
    )
    out = _drop_flush(read_serving_table(spark, table_dir))
    return out.select(
        "event_type", "window_start", "window_end", "avg_value", "n_events"
    )

def _fold_running_agg(prev, pdfs):
    """Shared accumulate step for the custom keyed-state operators
    (s_custom_state, s_transform_state + its fallback): fold a micro-batch's
    pandas frames into (row count, non-null count, sum, batch_seq).  One
    source of truth — the batch-equivalence tests of BOTH operators assert
    this exact contract.

    Two counters on purpose: ``n`` counts every parsed row (the batch
    ``F.count(lit(1))`` twin) while ``nn`` counts non-null values — pandas
    ``.sum()`` skips NaN, so dividing by ``n`` would diverge from ``F.avg``
    the moment the error-tolerant source emits a NULL value (round-2 ADVICE:
    the fixture has no malformed rows, so only the counter split keeps the
    contract honest)."""
    n, nn, s, seq = prev if prev is not None else (0, 0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        nn += int(pdf["value"].notna().sum())
        s += float(pdf["value"].sum())
    return n, nn, s, seq + 1


def _emit_running_agg(key, n, nn, s, seq):
    import pandas as pd

    return pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "n_values": [nn],
            "sum_value": [s],
            "batch_seq": [seq],
        }
    )


def _running_avg_col():
    """avg_value from the emitted running totals: F.avg semantics — NULL (not
    a zero-division error; ANSI mode is on) when every value was NULL."""
    return F.when(
        F.col("n_values") > 0,
        stable_round4(F.col("sum_value") / F.col("n_values")),
    ).alias("avg_value")


# shared by both custom keyed-state operators: the last emission per key
# after the drain equals the batch groupBy; n_events counts every row while
# avg divides by the NON-NULL count — exactly SQL AVG's null semantics
_RUNNING_STATE_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(CAST(AVG(value) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS avg_value
    FROM events
    GROUP BY event_type
"""


@register("s_custom_state", oracle=_RUNNING_STATE_ORACLE)
def s_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via `applyInPandasWithState`
    (§2.C capability surface: Flink's KeyedProcessFunction equivalent).

    Per event_type, explicit GroupState carries running (count, sum)
    across micro-batches; each batch emits the cumulative stats (update
    semantics).  After the availableNow drain, the last emission per key
    must equal the batch groupBy over the same fixture —
    tests/test_streaming.py::test_custom_state_batch_equivalence.

    100 TB notes: state is one fixed-size tuple per key (no growth with
    input); the operator shuffles once on the grouping key; the Python
    boundary is Arrow-batched.  Use watermark + timeouts (here NoTimeout)
    to bound keyspace when keys churn."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pyspark.sql.window import Window

    # no watermark node in this plan, so pre-filtering the sentinel is safe
    # (contrast _with_fixture_watermark's warning)
    df = _stream(spark, sf_dir).filter(F.col("event_type") != FLUSH_TYPE)

    def update(key, pdfs, state):
        n, nn, s, seq = _fold_running_agg(
            state.get if state.exists else None, pdfs
        )
        state.update((n, nn, s, seq))
        yield _emit_running_agg(key, n, nn, s, seq)

    emitted = df.groupBy("event_type").applyInPandasWithState(
        update,
        "event_type string, n_events long, n_values long, "
        "sum_value double, batch_seq long",
        "n long, nn long, s double, seq long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    log = _drain("custom-state", sf_dir, emitted, out_mode="update").table
    # the memory sink logs every per-batch emission; the final state per key
    # is the row with the highest batch_seq
    w = Window.partitionBy("event_type").orderBy(F.desc("batch_seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "n_events", _running_avg_col())
    )


def transform_with_state_available() -> bool:
    """True iff `transformWithStateInPandas` can run here.

    The operator drives state through a proto-serialized Python↔JVM state
    server; without `google.protobuf` on the Python path the streaming
    runner worker crashes at init (STREAMING_PYTHON_RUNNER_INITIALIZATION_
    FAILURE).  Gate pattern mirrors catalog.iceberg_available."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


@register(
    "q_serving_backfill",
    oracle="""
    -- identical to s_upsert_foreachbatch's oracle: the batch backfill must
    -- reproduce the streamed serving table exactly (Lambda repair path)
    SELECT make_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
             AS window_start,
           make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT)+1)*300*1000000)
             AS window_end,
           event_type,
           CAST(ROUND(CAST(AVG(value) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS avg_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def serving_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6's batch twin: bootstrap/repair the keyed serving table WITHOUT
    replaying the stream — the same tumbling aggregation and the same
    keyed MERGE, executed as one batch job (sinks.backfill_serving_table).
    The reference cannot do this (its serving store only fills via
    Kafka→Flink replay); in Spark the batch and streaming paths share the
    plan, so the repair is free."""
    import uuid

    from data_pipeline_cursor_spark.streaming.sinks import (
        backfill_serving_table,
        read_serving_table,
    )

    table_dir = _work("serving-backfill", uuid.uuid4().hex[:8])
    backfill_serving_table(spark, sf_dir, table_dir)
    return read_serving_table(spark, table_dir).select(
        "event_type", "window_start", "window_end", "avg_value", "n_events"
    )


@register("s_transform_state", oracle=_RUNNING_STATE_ORACLE)
def s_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via `transformWithStateInPandas` (Spark 4's
    arbitrary-state API — the successor of applyInPandasWithState used by
    s_custom_state, with typed state handles, timers, and TTL support).

    Same contract as s_custom_state: per event_type, a ValueState carries
    running (count, sum) across micro-batches; each batch emits cumulative
    stats and the last emission must equal the batch groupBy
    (tests/test_streaming.py::test_transform_state_batch_equivalence).

    Where the runtime lacks transformWithState's protobuf dependency
    (this container), the job degrades to the applyInPandasWithState
    formulation of the SAME processor — identical keyed-state semantics
    and output; the typed-handle API engages on a full deployment.

    transformWithState requires the RocksDB state store; the conf is
    scoped to this query and restored after.  100 TB notes: identical
    shuffle/state profile to s_custom_state (one shuffle on the key,
    O(keys) fixed-size state), but RocksDB keeps state off-heap and
    changelog-checkpoints incrementally — the right provider when keyspace
    outgrows executor heap."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )
    from pyspark.sql.window import Window

    df = _stream(spark, sf_dir).filter(F.col("event_type") != FLUSH_TYPE)

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [
                    StructField("n", LongType()),
                    StructField("nn", LongType()),
                    StructField("s", DoubleType()),
                    StructField("seq", LongType()),
                ]
            )
            self._agg = handle.getValueState("agg", schema)

        def handleInputRows(self, key, rows, timerValues):
            prev = self._agg.get() if self._agg.exists() else None
            n, nn, s, seq = _fold_running_agg(prev, rows)
            self._agg.update((n, nn, s, seq))
            yield _emit_running_agg(key, n, nn, s, seq)

        def close(self) -> None:
            pass

    out_schema = (
        "event_type string, n_events long, n_values long, "
        "sum_value double, batch_seq long"
    )
    if transform_with_state_available():
        provider_key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(provider_key, None)
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            emitted = df.groupBy("event_type").transformWithStateInPandas(
                statefulProcessor=RunningAgg(),
                outputStructType=out_schema,
                outputMode="Update",
                timeMode="None",
            )
            log = _drain("tws", sf_dir, emitted, out_mode="update").table
        finally:
            if old is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, old)
    else:
        from pyspark.sql.streaming.state import GroupStateTimeout

        def update(key, pdfs, state):
            n, nn, s, seq = _fold_running_agg(
                state.get if state.exists else None, pdfs
            )
            state.update((n, nn, s, seq))
            yield _emit_running_agg(key, n, nn, s, seq)

        emitted = df.groupBy("event_type").applyInPandasWithState(
            update,
            out_schema,
            "n long, nn long, s double, seq long",
            "update",
            GroupStateTimeout.NoTimeout,
        )
        log = _drain("tws", sf_dir, emitted, out_mode="update").table
    w = Window.partitionBy("event_type").orderBy(F.desc("batch_seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "n_events", _running_avg_col())
    )


@register(
    "s_static_join",
    oracle="""
    WITH m AS (
      SELECT event_type, ROUND(AVG(value), 4) AS mean_v
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(SUM(CASE WHEN e.value > m.mean_v THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e JOIN m USING (event_type)
    GROUP BY e.event_type
    """,
)
def s_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-surface stream-static join: enrich the live stream with a batch
    reference table (per-type historical mean), then count above-mean
    events per type — the Flink lookup-join / temporal-table pattern.

    The static side is broadcast to every task; no streaming state beyond
    the final aggregate.  Inner join on event_type drops the flush
    sentinel for free (it has no reference row).  Deterministic end state
    → full DuckDB oracle, not rows-only.

    100 TB: the reference table re-broadcasts per micro-batch (Spark
    re-plans the static side), so keep it compact or pin it with a
    storage-level cache; skew-free because the stream side never
    shuffles before the aggregate."""
    ev = load_table(spark, sf_dir, "events")
    # ROUND the reference mean before thresholding: the two engines sum in
    # different orders, and an unrounded cross-engine float comparison can
    # flip value > mean for a borderline row (repo determinism rule)
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("mean_v")
    )
    enriched = _stream(spark, sf_dir).join(F.broadcast(stats), "event_type")
    agg = enriched.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("value") > F.col("mean_v"), 1).otherwise(0)
        ).alias("n_above"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return _drain("static-join", sf_dir, agg, out_mode="complete").table


@register(
    "s_stream_join",
    oracle="""
    SELECT strftime(date_trunc('day', a.ts), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events a
    JOIN events b
      ON date_trunc('minute', a.ts) = date_trunc('minute', b.ts)
     AND a.event_type = 'click' AND b.event_type = 'error'
    GROUP BY strftime(date_trunc('day', a.ts), '%Y-%m-%d')
    """,
    # key-less interval join: output is density-quadratic BY DEFINITION
    # (all clicks x all errors per minute) — no plan can bound it, so no
    # at-size evidence is possible; s_stream_join_keyed below is the
    # deployment shape.  Sized consumers exclude via get_contrasts().
    contrast=True,
)
def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-surface stream-stream join (Flink interval-join twin): click and
    error events co-occurring in the same minute, paired as both sides
    arrive; daily pair counts.

    Both sides carry a watermark AND the join condition carries an
    event-time band (`click_time BETWEEN error_time ± 1 minute`) — the
    band is what lets Spark derive a state watermark and evict buffered
    rows; minute-bucket equality alone is an opaque derived key, so
    without the band each side buffers forever (round-2 ADVICE: state was
    unbounded in a production run; the drained fixture hid it).  The band
    is implied by same-minute equality (two timestamps in one minute
    bucket differ by <60 s), so it changes no results and the oracle
    stays the plain minute self-join.  Inner-join matches emit as they
    occur (no end-of-window wait), so the drained result equals the batch
    self-join and the query is fully oracle-checked.

    100 TB: state is bounded by (watermark delay × arrival rate); the
    join shuffles both sides on the minute key — at real volumes key on
    (entity_id, minute) so the state and shuffle spread over entities
    instead of hot minute buckets."""
    src = _stream(spark, sf_dir)
    a = (
        _with_fixture_watermark(src)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.date_trunc("minute", "event_time").alias("minute"),
            F.col("event_time").alias("click_time"),
        )
    )
    b = (
        _with_fixture_watermark(_stream(spark, sf_dir))
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.date_trunc("minute", "event_time").alias("err_minute"),
            F.col("event_time").alias("error_time"),
        )
    )
    pairs = a.join(
        b,
        (F.col("minute") == F.col("err_minute"))
        & (
            F.col("click_time")
            >= F.col("error_time") - F.expr("INTERVAL 1 MINUTE")
        )
        & (
            F.col("click_time")
            <= F.col("error_time") + F.expr("INTERVAL 1 MINUTE")
        ),
    )
    drained = _drain("stream-join", sf_dir, pairs).table
    return drained.groupBy(
        F.date_format("click_time", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


STREAM_JOIN_ENTITY_DIV = 64  # entity key = event_id div 64 — the landing
# record carries no user/session column (reference parity), so a derived
# high-cardinality entity stands in, same convention as SCMS_ENTITY_DIV


@register(
    "s_stream_join_keyed",
    oracle=f"""
    SELECT strftime(date_trunc('day', a.ts), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events a
    JOIN events b
      ON a.event_id // {STREAM_JOIN_ENTITY_DIV}
         = b.event_id // {STREAM_JOIN_ENTITY_DIV}
     AND a.event_type = 'click' AND b.event_type = 'error'
     AND date_trunc('second', a.ts)
         >= date_trunc('second', b.ts) - INTERVAL 1 HOUR
     AND date_trunc('second', a.ts)
         <= date_trunc('second', b.ts) + INTERVAL 1 HOUR
    GROUP BY strftime(date_trunc('day', a.ts), '%Y-%m-%d')
    """,
)
def s_stream_join_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY-KEYED stream-stream interval join — the deployment shape of
    C14 (round-9 VERDICT item 2): clicks paired with errors of the SAME
    ENTITY within ±1 hour, daily pair counts.

    Why this variant exists: the key-less s_stream_join pairs ALL clicks
    with ALL errors per minute, so its OUTPUT is density-quadratic by
    definition — a 100× denser stream emits ~10,000× pairs, which no
    plan can fix (round-9 finding; it is the one streaming job with no
    at-size drain).  Keying the join on an entity (user/session/device
    in production; here event_id div {STREAM_JOIN_ENTITY_DIV}, the
    landing payload's stand-in for a carried key) bounds matches per
    event by that entity's own rate — output and state grow LINEARLY
    with the stream, which is why every production interval join is
    keyed (the Flink interval-join shape the reference's engine family
    ships).

    State story: both sides shuffle on the entity key; the event-time
    band (a.time BETWEEN b.time ± 1 h) lets Spark derive the state
    watermark and evict buffered rows past it — state is bounded by
    (watermark delay × per-entity arrival rate) summed over live
    entities.  Inner matches emit as both sides arrive, so the drained
    result equals the batch keyed self-join and the query carries a
    full DuckDB oracle.

    The daily count aggregates PER MICRO-BATCH via foreachBatch (the A6
    upsert-sink pattern): inner-join emissions are append-only, so the
    per-batch partial day counts SUM to the exact batch self-join total
    — commutative, the classic streaming partial-aggregation identity.
    This is the at-size posture: even a LINEAR pair stream is ~26 M rows
    at the sf10 drain, which no single sink should receive raw (the
    first cut sank raw pairs and the memory sink blew
    spark.driver.maxResultSize at 1.2 GiB).  An in-stream windowed agg
    was measured and REJECTED: after a time-interval join Spark 4.1 held
    every join row and finalized no window (the chained-stateful-op
    watermark never propagated through the interval condition), so the
    per-batch fold is also the correctness-working shape.  Driver
    traffic is ≤ |days| rows per batch — a documented bounded contract;
    a production deployment MERGEs the same partials into a keyed store
    (s_upsert_foreachbatch's mechanism) instead of a driver dict."""
    div = STREAM_JOIN_ENTITY_DIV
    a = (
        _with_fixture_watermark(_stream(spark, sf_dir))
        .filter(F.col("event_type") == "click")
        .select(
            F.expr(f"event_id div {div}").alias("entity"),
            F.col("event_time").alias("click_time"),
        )
    )
    b = (
        _with_fixture_watermark(_stream(spark, sf_dir))
        .filter(F.col("event_type") == "error")
        .select(
            F.expr(f"event_id div {div}").alias("err_entity"),
            F.col("event_time").alias("error_time"),
        )
    )
    pairs = a.join(
        b,
        (F.col("entity") == F.col("err_entity"))
        & (
            F.col("click_time")
            >= F.col("error_time") - F.expr("INTERVAL 1 HOUR")
        )
        & (
            F.col("click_time")
            <= F.col("error_time") + F.expr("INTERVAL 1 HOUR")
        ),
    )
    counts: dict[str, int] = {}

    def fold_batch(batch_df: DataFrame, _batch_id: int) -> None:
        rows = (
            batch_df.groupBy(
                F.date_format("click_time", "yyyy-MM-dd").alias("day")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # ≤ |days| rows — the bounded contract
        )
        for r in rows:
            counts[r["day"]] = counts.get(r["day"], 0) + r["n"]

    _drain("stream-join-keyed", sf_dir, pairs, fold_batch)
    return spark.createDataFrame(
        sorted(counts.items()), "day string, n_pairs long"
    )


@register(
    "s_fill_forward",
    oracle="""
    WITH obs AS (
      SELECT event_type, value AS reading,
             date_trunc('second', ts) AS tss, event_id
      FROM events WHERE value >= 100
    ),
    last AS (
      SELECT event_type, reading,
             strftime(tss, '%Y-%m-%d %H:%M:%S') AS last_obs_ts
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY event_type ORDER BY tss DESC, event_id DESC) AS rn
        FROM obs
      ) WHERE rn = 1
    )
    SELECT l.event_type, n.n_obs, l.reading AS last_reading, l.last_obs_ts
    FROM last l
    JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs
          FROM obs GROUP BY 1) n USING (event_type)
    """,
)
def s_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming forward-fill readout (q_fill_forward's streaming twin,
    D38 × C11): per event_type, carry the latest sparse observation
    (value ≥ 100) as explicit keyed state and serve the current filled
    value — the live LOCF a dashboard reads between observations.

    State is ORDER-ROBUST by construction: one (event-time, event_id,
    reading, n_obs) tuple per key updated by argmax on (event-time,
    event_id), so the late landing file folds in correctly no matter
    which micro-batch delivers it — unlike a processing-order LOCF, a
    replay or reordering converges to the same state.  Event time is
    compared at the landing format's second granularity with event_id as
    the total-order tiebreak, which is exactly the order the batch oracle
    replays.

    100 TB: fixed-size state per key, one shuffle on the key, Arrow-
    batched updates that fold each micro-batch to at most one candidate
    per key before touching state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    df = _stream(spark, sf_dir).filter(F.col("event_type") != FLUSH_TYPE)
    src = df.select(
        "event_type",
        F.col("event_id"),
        F.unix_micros(F.col("event_time")).alias("us"),
        F.when(F.col("value") >= 100, F.col("value")).alias("reading"),
    )

    def update(key, pdfs, state):
        us0, eid0, rd0, n0, seq = (
            state.get if state.exists else (-1, -1, 0.0, 0, 0)
        )
        for pdf in pdfs:
            obs = pdf[pdf["reading"].notna()]
            if not len(obs):
                continue
            n0 += len(obs)
            top = obs.sort_values(["us", "event_id"]).iloc[-1]
            cand = (int(top["us"]), int(top["event_id"]))
            if cand > (us0, eid0):
                us0, eid0, rd0 = cand[0], cand[1], float(top["reading"])
        seq += 1
        state.update((us0, eid0, rd0, n0, seq))
        if n0 > 0:  # keys with no observation yet serve nothing
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n_obs": [n0],
                    "last_reading": [rd0],
                    "last_us": [us0],
                    "batch_seq": [seq],
                }
            )

    emitted = src.groupBy("event_type").applyInPandasWithState(
        update,
        "event_type string, n_obs long, last_reading double, "
        "last_us long, batch_seq long",
        "us long, eid long, rd double, n long, seq long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    log = _drain("fill-forward", sf_dir, emitted, out_mode="update").table
    w = Window.partitionBy("event_type").orderBy(F.desc("batch_seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_obs",
            "last_reading",
            F.date_format(
                F.timestamp_micros(F.col("last_us")), "yyyy-MM-dd HH:mm:ss"
            ).alias("last_obs_ts"),
        )
    )


@register(
    "s_chained_agg",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(epoch(ts)/300) AS BIGINT) AS b5, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT make_timestamp((b5 // 3) * 900 * 1000000)       AS window_start,
           make_timestamp(((b5 // 3) + 1) * 900 * 1000000) AS window_end,
           event_type,
           CAST(SUM(n) AS BIGINT)   AS total_events,
           CAST(MAX(n) AS BIGINT)   AS max_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM b GROUP BY 1, 2, 3
    """,
)
def s_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregations in ONE streaming query (the multiple-
    stateful-operators capability Spark gained in 3.4; Flink expresses the
    same as cascading window aggregations): 5-min tumbling count per type,
    re-aggregated into 15-min windows (total / max-bucket / bucket count)
    via the window-of-window API — `F.window(F.col("window"), "15 minutes")`
    chains the second aggregate off the first's window STRUCT, both in
    append mode under one watermark.

    Why this matters at scale: the cascade keeps the wide keyspace (5-min
    buckets) in the FIRST operator's store and hands the second operator
    pre-collapsed rows — the streaming analog of partial aggregation; the
    alternative (re-reading the first job's sink) doubles end-to-end
    latency and storage.  Drain/oracle argument is s_tumble's: the flush
    sentinel finalizes every real window at BOTH levels, so the result
    equals the batch two-level bucket aggregation."""
    df = _with_fixture_watermark(_stream(spark, sf_dir))
    first = df.groupBy(
        F.window("event_time", "5 minutes"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    second = (
        first.groupBy(F.window(F.col("window"), "15 minutes"), "event_type")
        .agg(
            F.sum("n").alias("total_events"),
            F.max("n").alias("max_bucket"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "total_events",
            "max_bucket",
            "n_buckets",
        )
    )
    return _drain("chained", sf_dir, second).table


_TOPK_K = 3

_TOPK_STATE_ORACLE = f"""
    SELECT event_type, rnk, value, event_id FROM (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id ASC) AS rnk
      FROM events
    ) WHERE rnk <= {_TOPK_K}
"""


@register("s_topk_state", oracle=_TOPK_STATE_ORACLE)
def s_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BOUNDED-STATE top-k per key via `applyInPandasWithState`
    — the leaderboard operator: per event type, the k highest values
    (k = _TOPK_K) ever seen with their event ids, maintained incrementally.

    Contrast with s_custom_state (a running scalar fold): here the state
    is a fixed-size ORDER STATISTIC.  The merge (state ∪ batch → dedupe by
    id → top-k under the TOTAL order value DESC, event_id ASC) is
    commutative and idempotent, so the drained result is deterministic
    under ANY micro-batch arrival order AND under replayed batches —
    which is what lets a streaming operator carry a plain batch window
    oracle with no ordering caveats.

    100 TB: state is k tuples per key regardless of stream length (the
    property that makes leaderboards streamable at all); one shuffle on
    the key; Arrow-batched Python."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    df = _stream(spark, sf_dir).filter(F.col("event_type") != FLUSH_TYPE)

    def update(key, pdfs, state):
        if state.exists:
            vals, ids, seq = state.get
            top = list(zip(vals, ids))
        else:
            top, seq = [], 0
        seen = {i for _, i in top}
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["value", "event_id"])
            for v, i in zip(pdf["value"], pdf["event_id"]):
                i = int(i)
                if i not in seen:
                    top.append((float(v), i))
                    seen.add(i)
        top.sort(key=lambda t: (-t[0], t[1]))
        top = top[:_TOPK_K]
        seq += 1
        state.update(([v for v, _ in top], [i for _, i in top], seq))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(top),
                "rnk": list(range(1, len(top) + 1)),
                "value": [v for v, _ in top],
                "event_id": [i for _, i in top],
                "batch_seq": [seq] * len(top),
            }
        )

    emitted = df.groupBy("event_type").applyInPandasWithState(
        update,
        "event_type string, rnk int, value double, event_id long, "
        "batch_seq long",
        "vals array<double>, ids array<long>, seq long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    log = _drain("topk-state", sf_dir, emitted, out_mode="update").table
    w = Window.partitionBy("event_type", "rnk").orderBy(F.desc("batch_seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "rnk", "value", "event_id")
    )


_CDC_ORACLE = """
    -- version order truncates ts to SECONDS: the landing record shape is
    -- second-precision (reference ts format), so ordering by raw micros
    -- here could pick a different same-second row than the stream sees
    SELECT event_type,
           CAST(last_event AS BIGINT)          AS last_event,
           ROUND(last_value, 4)                AS last_value
    FROM (
      SELECT event_type, event_id AS last_event, value AS last_value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('second', ts) DESC,
                                         event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1 AND last_value >= 50
"""


@register("s_cdc_apply", oracle=_CDC_ORACLE)
def s_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC CHANGELOG APPLY with deletes — the Debezium-consumer pattern
    the upsert sink (A6) cannot express: each record is an upsert OR a
    delete (here: op = delete when value < 50), and the serving table
    must converge to the per-key row with the HIGHEST event-time version
    — absent entirely if that version is a delete.

    Determinism under re-ordering: last-writer-wins by ARRIVAL is
    nondeterministic across micro-batch interleavings, so versions are
    the event's own (event_time, event_id) TOTAL order and the per-batch
    apply is an argmax MERGE — commutative and idempotent, like
    s_topk_state's.  Deletes persist as TOMBSTONE rows (op='D') so a
    replayed older upsert can never resurrect a deleted key; reads
    filter tombstones.

    Each batch publishes through the catalog: the first as a
    snapshot_commit, every later one as a snapshot_merge on event_type
    whose source is the batch's winning rows, so a crash at any point
    leaves the table on its last published snapshot.  The table is
    key-cardinality-sized; at 100 TB the merge's file pruning scopes
    each apply to the touched files."""
    import uuid

    from pyspark.sql.window import Window

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
        snapshot_versions,
    )

    table_dir = _work("serving", "cdc-" + uuid.uuid4().hex[:8])
    wv = Window.partitionBy("event_type").orderBy(
        F.desc("version_ts"), F.desc("version_id")
    )

    def argmax(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def apply_cdc(batch: DataFrame, _id: int) -> None:
        sp = batch.sparkSession
        incoming = argmax(
            batch.filter(F.col("event_type") != FLUSH_TYPE)
            .dropna(subset=["event_id", "event_time"])
            .select(
                "event_type",
                F.col("event_time").alias("version_ts"),
                F.col("event_id").alias("version_id"),
                F.col("value").alias("last_value"),
                F.when(F.col("value") < 50, "D").otherwise("U").alias("op"),
            )
        )
        if incoming.isEmpty():
            return
        if not snapshot_versions(table_dir):
            snapshot_commit(sp, table_dir, incoming)
            return
        # merge source: the keys whose newest version arrived in this
        # batch, as upserts (_delete False); the table's rows are tagged
        # True only to drop them after the argmax, so a replayed or older
        # row loses to the table's row and changes nothing
        won = argmax(
            snapshot_read(sp, table_dir)
            .withColumn("_delete", F.lit(True))
            .unionByName(incoming.withColumn("_delete", F.lit(False)))
        ).filter(~F.col("_delete"))
        if not won.isEmpty():
            snapshot_merge(sp, table_dir, won, key="event_type")

    drain(_stream(spark, sf_dir), _ckpt("cdc-apply"), apply_cdc)
    return (
        snapshot_read(spark, table_dir)
        .filter(F.col("op") == "U")
        .select(
            "event_type",
            F.col("version_id").alias("last_event"),
            F.round("last_value", 4).alias("last_value"),
        )
    )


@register(
    "s_query_metrics",
    oracle="""
    -- the one observability counter that is a pure function of the
    -- fixture: every landing row (events + 1 flush sentinel) is ingested
    -- exactly once by the availableNow drain
    SELECT 'total_input_rows' AS metric,
           CAST(COUNT(*) + 1 AS BIGINT) AS value
    FROM events
    """,
)
def s_query_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY from the StreamingQueryProgress payload
    (the Structured Streaming metrics surface — Flink's metric reporters /
    the reference dashboard's poll loop, §3.4, as first-class data): the
    flagship tumble job drains, and the counters summed over its
    DrainReport's per-batch progress records come back AS A TABLE.

    Exactly-once makes observability oracle-able: total numInputRows
    over the drain is a pure function of the fixture (events + the flush
    sentinel), so the emitted counter carries a real DuckDB oracle —
    batch COUNTS and durations are run-shaped, so only the deterministic
    counter is emitted.  At 100 TB this payload is what feeds lag/
    throughput dashboards and autoscaling; the plan cost is the job it
    observes."""
    landing = write_landing_fixture(spark, sf_dir, _work("landing"))
    df = read_event_stream(spark, landing, derived_trigger_width(landing))
    report = _drain("metrics", sf_dir, tumble_agg(df))
    if report.progress_window_saturated:
        raise RuntimeError(
            f"s_query_metrics: the drain filled the {len(report.progress)}-"
            "record progress window; its earliest batches' counts are gone"
        )
    rows = sum(p["numInputRows"] for p in report.progress)
    # A silent undercount is the one failure mode an observability
    # pipeline must never have.  Under an availableNow drain the true
    # ingested total is a pure batch line count of the landing fixture;
    # cross-check and fail loudly.
    expected = (
        spark.read.option("pathGlobFilter", "*.json").text(landing).count()
    )
    if rows != expected:
        raise RuntimeError(
            f"s_query_metrics undercounted: progress sum {rows} != landing "
            f"fixture rows {expected}"
        )
    return spark.createDataFrame(
        [("total_input_rows", rows)], "metric string, value long"
    )


_EWMA_STATE_ORACLE = """
    WITH RECURSIVE base AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('second', ts),
                                         event_id) AS rn
      FROM events
    ),
    ew AS (
      SELECT event_type, rn, v AS e FROM base WHERE rn = 1
      UNION ALL
      SELECT b.event_type, b.rn, (b.v + ew.e) // 2
      FROM ew JOIN base b
        ON b.event_type = ew.event_type AND b.rn = ew.rn + 1
    ),
    last AS (
      SELECT event_type, MAX(rn) AS n_obs FROM base GROUP BY event_type
    )
    SELECT l.event_type,
           CAST(l.n_obs AS BIGINT) AS n_obs,
           CAST(e.e AS BIGINT)     AS ewma_cents
    FROM last l JOIN ew e
      ON e.event_type = l.event_type AND e.rn = l.n_obs
"""


@register("s_ewma_state", oracle=_EWMA_STATE_ORACLE)
def s_ewma_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-DEPENDENT stateful streaming via EVENT-TIME RESEQUENCING —
    the capability s_topk_state and s_cdc_apply deliberately sidestep
    (their merges are commutative): the integer EWMA recurrence
    e_t = (v_t + e_{t-1}) // 2 depends on processing rows in event-time
    order, but micro-batches deliver them in ARRIVAL order.  The
    operator buffers each key's observations in keyed state and, every
    batch, re-folds the recurrence over the buffer sorted by the TOTAL
    event-time order (second-truncated ts, event_id) — so the drained
    result equals q_ewma's batch semantics exactly, under any
    interleaving, and carries the same recursive-CTE oracle.

    State per key is the buffered (ts, id, cents) history — the honest
    cost of exact resequencing.  At 100 TB the buffer is bounded by the
    WATERMARK horizon (emit-and-evict rows older than the watermark,
    folding them permanently into the carried e); the fixture drain
    keeps the whole horizon because the flush sentinel arrives last.

    STATE LAYOUT (round-9): the buffer is ONE packed int64 binary blob
    ([ts... | id... | cents...] via numpy tobytes), not three
    array<long> columns.  The array-typed encoder boxes per element and
    the sf10 drain measured its failure mode: three executor threads
    pinned in Unsafe.freeMemory direct-buffer churn for 45+ minutes on
    2M-element state rows (jstack evidence, BASELINE.md round-9
    streaming notes).  A binary column is one bulk copy each way —
    state I/O per batch is proportional to bytes, not element count.

    MICRO-BATCH SIZING (round-9, derived like every other scale knob):
    multi-batch replay is the fixture's realism knob, but the
    applyInPandasWithState Arrow channel re-echoes each group's state
    alongside its data chunks, so channel volume per batch is
    O(data + chunks·state_bytes) — measured at sf10 (205 MB events,
    ~16 MB/key whole-history buffers): 45+ min multi-batch vs 17.8 s as
    ONE availableNow batch, with executors pinned in the direct-buffer
    grow/serialize path.  The rule below keeps the 4-file replay while
    the events fixture is small enough that per-key buffers stay in the
    single-MB range (sf1 = 20 MB drains multi-batch in 9.2 s) and drops
    to a single batch past _EWMA_SINGLE_BATCH_BYTES (64 MB) — exact
    resequencing over UNBOUNDED disorder keeps O(stream) state by
    contract, so at scale the honest trade is fewer state echoes, not a
    smaller buffer.  (A real deployment bounds disorder with the
    watermark horizon instead — that path is REGISTERED and oracle-
    verified as s_ewma_horizon, which replays the ordered fixture and
    evicts the sorted prefix below the watermark every batch; this
    fixture's copy-interleaved arrival order is deliberately
    unbounded.)"""
    log = ewma_emitted_log(spark, sf_dir, horizon=False)
    return _ewma_final(log)


def _ewma_final(log: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("batch_seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "n_obs", "ewma_cents")
    )


def ewma_emitted_log(
    spark: SparkSession, sf_dir: str, horizon: bool
) -> DataFrame:
    """Drained per-batch emission log of the streaming EWMA.  Two replay
    shapes over ONE update function:

    - horizon=False (registered s_ewma_state): the unordered fixture, no
      watermark — exact resequencing over UNBOUNDED disorder, O(stream)
      state by contract, single-batch drain past 64 MB (round-9 rule).
    - horizon=True (registered s_ewma_horizon): the ORDERED fixture with
      a 1-hour watermark; every batch folds the sorted buffer PREFIX
      strictly below the watermark into a carried (e, n) scalar pair and
      drops it — the prefix fold is final because arriving rows are
      ≥ watermark and the order key is (ts, id) with ts strictly
      separating folded from future rows.  State is O(events within one
      batch span + horizon), so the multi-batch replay stays cheap at
      ANY fixture size (no single-batch escape hatch needed).

    The emitted `n_buf` column is the live buffer length — the direct
    witness that the horizon variant's state is bounded by the horizon,
    not the stream (round-9 VERDICT item 3's done-criterion)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from data_pipeline_cursor_spark.functions.math_ops import cents_half_away
    from data_pipeline_cursor_spark.sources.tables import table_path

    if horizon:
        df = _with_fixture_watermark(
            _stream_ordered(spark, sf_dir), ORDERED_WATERMARK
        ).filter(F.col("event_type") != FLUSH_TYPE)
    else:
        ev_bytes = _tree_bytes(table_path(sf_dir, "events"))
        mft = DERIVE_TRIGGER if ev_bytes <= _EWMA_SINGLE_BATCH_BYTES else None
        df = _stream(spark, sf_dir, mft).filter(
            F.col("event_type") != FLUSH_TYPE
        )

    def update(key, pdfs, state):
        # state blob layout (int64): [e_carry, n_carry, ts…, id…, cents…],
        # the buffered triple kept SORTED by (ts, id); n_carry == 0 means
        # no folded prefix yet.
        if state.exists:
            raw, seq = state.get
            arr = np.frombuffer(raw, dtype=np.int64)
            e_carry, n_carry = int(arr[0]), int(arr[1])
            body = arr[2:]
            n0 = body.size // 3
            ts_b, id_b, v_b = body[:n0], body[n0 : 2 * n0], body[2 * n0 :]
        else:
            e_carry, n_carry, seq = 0, 0, 0
            ts_b = id_b = v_b = np.empty(0, dtype=np.int64)
        new_ts, new_id, new_v = [ts_b], [id_b], [v_b]
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["event_id", "event_time", "value"])
            # epoch ms; landing ts are second-precision, so this is a
            # monotone rendering of the oracle's second-truncated order.
            # tz_localize(None) first: pandas>=2 raises TypeError casting a
            # tz-AWARE series to datetime64[ns] (round-9 ADVICE item 4) —
            # the verified config delivers tz-naive, but the Arrow channel
            # contract doesn't promise that; a wall-time reinterpretation
            # is harmless here because only the ORDER is consumed.
            ets = pd.to_datetime(pdf["event_time"])
            if getattr(ets.dt, "tz", None) is not None:
                ets = ets.dt.tz_localize(None)
            new_ts.append(
                ets.to_numpy().astype("datetime64[ns]").view("int64")
                // 1_000_000
            )
            new_id.append(pdf["event_id"].to_numpy().astype(np.int64))
            # half-away cents, NOT pandas Series.round (banker's) — see
            # cents_half_away's docstring for the desync this prevents.
            new_v.append(
                cents_half_away(pdf["value"].to_numpy()).astype(np.int64)
            )
        ts_a = np.concatenate(new_ts)
        id_a = np.concatenate(new_id)
        v_a = np.concatenate(new_v)
        order = np.lexsort((id_a, ts_a))
        ts_a, id_a, v_a = ts_a[order], id_a[order], v_a[order]
        seq += 1
        if horizon:
            # WATERMARK-HORIZON EVICTION: rows strictly below the
            # watermark can never be preceded by a future arrival
            # (arrivals are ≥ wm_ms), so the sorted prefix below it folds
            # PERMANENTLY into the carried recurrence value.
            wm_ms = state.getCurrentWatermarkMs()
            if wm_ms > 0:
                k = int(np.searchsorted(ts_a, wm_ms, side="left"))
                if k:
                    vals = v_a[:k]
                    i = 0
                    if n_carry == 0:
                        e_carry = int(vals[0])
                        i = 1
                    for x in vals[i:]:
                        e_carry = (int(x) + e_carry) // 2
                    n_carry += k
                    ts_a, id_a, v_a = ts_a[k:], id_a[k:], v_a[k:]
        packed = np.concatenate(
            [np.array([e_carry, n_carry], dtype=np.int64), ts_a, id_a, v_a]
        ).tobytes()
        state.update((packed, seq))
        n_obs = n_carry + int(v_a.size)
        if n_obs == 0:
            return
        if n_carry:
            e = e_carry
            rest = v_a
        else:
            e = int(v_a[0])
            rest = v_a[1:]
        for x in rest:
            e = (int(x) + e) // 2
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_obs": [n_obs],
                "ewma_cents": [e],
                "n_buf": [int(v_a.size)],
                "batch_seq": [seq],
            }
        )

    emitted = df.groupBy("event_type").applyInPandasWithState(
        update,
        "event_type string, n_obs long, ewma_cents long, n_buf long,"
        " batch_seq long",
        "buf binary, seq long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    name = "ewma-horizon" if horizon else "ewma-state"
    return _drain(name, sf_dir, emitted, out_mode="update").table


@register("s_ewma_horizon", oracle=_EWMA_STATE_ORACLE)
def s_ewma_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s_ewma_state's BOUNDED-STATE twin (round-9 VERDICT item 3): the
    same order-exact integer EWMA, replayed over the ORDERED landing
    fixture with a 1-hour watermark so the horizon-eviction path — the
    mechanism the s_ewma_state docstring promises for deployment — runs
    in every drain and is verified by the same recursive-CTE oracle.
    Each batch folds the sorted in-horizon prefix into a carried (e, n)
    scalar pair; state is O(batch span + horizon) per key at ANY stream
    length, vs s_ewma_state's measured 142 MB whole-history buffer at
    10 M events (BASELINE.md round-9).  See ewma_emitted_log for the
    fold's finality argument and the n_buf evidence column."""
    log = ewma_emitted_log(spark, sf_dir, horizon=True)
    return _ewma_final(log)


_FUNNEL_STREAM_ORACLE = """
    WITH e AS (
      SELECT user_id, event_type, date_trunc('second', ts) AS ts
      FROM events
    ),
    s AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
      FROM e GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    )
    SELECT CAST(COUNT(s.t_signup) AS BIGINT)   AS n_signup,
           CAST(COUNT(v.t_view) AS BIGINT)     AS n_view,
           CAST(COUNT(p.t_purchase) AS BIGINT) AS n_purchase,
           ROUND(COUNT(v.t_view) / CAST(COUNT(s.t_signup) AS DOUBLE), 4)
             AS view_rate,
           ROUND(COUNT(p.t_purchase) / CAST(COUNT(s.t_signup) AS DOUBLE), 4)
             AS purchase_rate
    FROM s
    LEFT JOIN v ON v.user_id = s.user_id
    LEFT JOIN p ON p.user_id = s.user_id
    WHERE s.t_signup IS NOT NULL
"""


# "no value" sentinel for the packed funnel scalars — far above any epoch
# second, far below int64 overflow under min().
_FUNNEL_NONE = 1 << 62

# State-key width for the funnel: users hash into this many buckets and
# each bucket's state holds its users' scalar/buffer tables.  Sized so a
# micro-batch invokes O(buckets) Python calls (the ~0.4 ms/key Arrow
# runner cost), while each call stays a few thousand rows of vectorized
# numpy; at 100 TB scale it up with the state-store partition count.
FUNNEL_STATE_BUCKETS = 64


def funnel_emitted_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-batch emission log of the streaming funnel (drained) —
    exposed separately from the registered aggregate so tests and the
    sized-drain script can read the per-user `n_buf` column: the live
    in-horizon buffer length, the direct witness that watermark folding
    bounds state (round-9 VERDICT item 1's done-criterion)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    STAGES = ("signup", "view", "purchase")
    # CACHE the enrichment side: a stream-static join re-executes the
    # static plan EVERY micro-batch, and the ordered replay runs ~8
    # batches where the unordered one ran 2-3 — without the cache that
    # is 8 parquet scans of the fact table per drain (measured 56 s at
    # sf1).  The cached projection is 2×int64 per event; unpersisted in
    # s_funnel after the drain.
    users = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .cache()
    )
    enriched = (
        _with_fixture_watermark(
            _stream_ordered(spark, sf_dir), ORDERED_WATERMARK
        )
        .filter(F.col("event_type").isin(*STAGES))
        .join(users, "event_id")  # flush sentinel has no user row → dropped
        .select(
            "user_id",
            F.pmod(F.col("user_id"), F.lit(FUNNEL_STATE_BUCKETS)).alias("ub"),
            "event_type",
            "event_time",
        )
    )
    NONE = _FUNNEL_NONE

    # STATE KEY IS A USER BUCKET, NOT THE USER (round-10): the Arrow
    # state runner invokes the Python function once per PRESENT KEY per
    # batch at ~0.4 ms each — per-user keying measured 3.9 M invocations
    # for an sf10 drain (26 batches × 150 k users ≈ 26 min of pure FFI).
    # Bucketing users 64-ways turns that into ~1.7 k invocations whose
    # bodies are vectorized numpy over the bucket's per-user tables; the
    # per-user FOLD SEMANTICS are unchanged (same three scalar stage
    # mins, same finality argument), just computed with segment-min
    # (np.minimum.reduceat) over uid-sorted buffers instead of one call
    # per user.

    def _seg_min(uid_sorted, vals, table_uids, init):
        """Per-uid min of ``vals`` (uid-sorted, NONE = masked out),
        merged into ``init`` (aligned to table_uids).  Returns a copy."""
        out = init.copy()
        if uid_sorted.size:
            starts = np.flatnonzero(
                np.r_[True, uid_sorted[1:] != uid_sorted[:-1]]
            )
            mins = np.minimum.reduceat(vals, starts)
            pos = np.searchsorted(table_uids, uid_sorted[starts])
            out[pos] = np.minimum(out[pos], mins)
        return out

    def update(key, pdfs, state):
        # state blob (all int64):
        # [n_users, n_s, n_v, n_p,
        #  uids…, s_min…, vq_min…, pq_min…,      (scalar table, uid-sorted)
        #  s_uid…, s_sec…, v_uid…, v_sec…, p_uid…, p_sec…]  (uid-sorted)
        if state.exists:
            raw, seq = state.get
            arr = np.frombuffer(raw, dtype=np.int64)
            nu, ns, nv, npu = (int(x) for x in arr[:4])
            o = 4
            uids = arr[o : o + nu]; o += nu
            s_min = arr[o : o + nu].copy(); o += nu
            vq_min = arr[o : o + nu].copy(); o += nu
            pq_min = arr[o : o + nu].copy(); o += nu
            s_uid = arr[o : o + ns]; o += ns
            s_sec = arr[o : o + ns]; o += ns
            v_uid = arr[o : o + nv]; o += nv
            v_sec = arr[o : o + nv]; o += nv
            p_uid = arr[o : o + npu]; o += npu
            p_sec = arr[o : o + npu]
        else:
            uids = s_min = vq_min = pq_min = np.empty(0, dtype=np.int64)
            s_uid = s_sec = v_uid = v_sec = np.empty(0, dtype=np.int64)
            p_uid = p_sec = np.empty(0, dtype=np.int64)
            seq = 0
        new_uid, new_kind, new_sec = [], [], []
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["user_id", "event_type", "event_time"])
            ets = pd.to_datetime(pdf["event_time"])
            if getattr(ets.dt, "tz", None) is not None:
                ets = ets.dt.tz_localize(None)
            new_sec.append(
                ets.to_numpy().astype("datetime64[ns]").view("int64")
                // 1_000_000_000
            )
            new_uid.append(pdf["user_id"].to_numpy().astype(np.int64))
            types = pdf["event_type"].to_numpy()
            k = np.full(len(pdf), 2, dtype=np.int64)
            k[types == "signup"] = 0
            k[types == "view"] = 1
            new_kind.append(k)
        b_uid = np.concatenate(new_uid) if new_uid else np.empty(0, np.int64)
        b_kind = np.concatenate(new_kind) if new_kind else np.empty(0, np.int64)
        b_sec = np.concatenate(new_sec) if new_sec else np.empty(0, np.int64)
        seq += 1
        present = np.unique(b_uid)
        # extend the scalar table with first-seen users
        fresh = np.setdiff1d(present, uids, assume_unique=False)
        if fresh.size:
            uids2 = np.concatenate([uids, fresh])
            order = np.argsort(uids2, kind="stable")
            def _ext(a):
                return np.concatenate(
                    [a, np.full(fresh.size, NONE, dtype=np.int64)]
                )[order]
            uids, s_min, vq_min, pq_min = (
                uids2[order], _ext(s_min), _ext(vq_min), _ext(pq_min),
            )

        def _merge(old_u, old_s, mask):
            u = np.concatenate([old_u, b_uid[mask]])
            s = np.concatenate([old_s, b_sec[mask]])
            order = np.argsort(u, kind="stable")
            return u[order], s[order]

        s_uid, s_sec = _merge(s_uid, s_sec, b_kind == 0)
        v_uid, v_sec = _merge(v_uid, v_sec, b_kind == 1)
        p_uid, p_sec = _merge(p_uid, p_sec, b_kind == 2)

        # per-user min signup over EVERYTHING known (scalar + buffer)
        all_s = _seg_min(s_uid, s_sec, uids, s_min)
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > 0:
            # WATERMARK-HORIZON FOLD — same finality argument as the
            # per-user form: arrivals are ≥ wm, qualifying predecessors
            # are strictly earlier, stage mins only decrease.
            wm = wm_ms // 1000
            old = s_sec < wm
            s_min = _seg_min(s_uid[old], s_sec[old], uids, s_min)
            s_uid, s_sec = s_uid[~old], s_sec[~old]
            old = v_sec < wm
            qual = np.where(
                v_sec > all_s[np.searchsorted(uids, v_uid)], v_sec, NONE
            )
            vq_min = _seg_min(v_uid[old], qual[old], uids, vq_min)
            v_uid, v_sec = v_uid[~old], v_sec[~old]
        # first qualified view over everything known (post-fold buffer)
        vq_buf = np.where(
            v_sec > all_s[np.searchsorted(uids, v_uid)], v_sec, NONE
        )
        tv_known = _seg_min(v_uid, vq_buf, uids, vq_min)
        if wm_ms > 0:
            old = p_sec < wm
            pqual = np.where(
                p_sec > tv_known[np.searchsorted(uids, p_uid)], p_sec, NONE
            )
            pq_min = _seg_min(p_uid[old], pqual[old], uids, pq_min)
            p_uid, p_sec = p_uid[~old], p_sec[~old]
        pq_buf = np.where(
            p_sec > tv_known[np.searchsorted(uids, p_uid)], p_sec, NONE
        )
        tp_known = _seg_min(p_uid, pq_buf, uids, pq_min)

        header = np.array(
            [uids.size, s_uid.size, v_uid.size, p_uid.size], dtype=np.int64
        )
        packed = np.concatenate(
            [header, uids, s_min, vq_min, pq_min,
             s_uid, s_sec, v_uid, v_sec, p_uid, p_sec]
        ).tobytes()
        state.update((packed, seq))
        if not present.size:
            return
        # readout for users PRESENT in this batch (others unchanged;
        # folding never changes a readout)
        pos = np.searchsorted(uids, present)
        n_buf = (
            np.bincount(
                np.searchsorted(uids, np.concatenate([s_uid, v_uid, p_uid])),
                minlength=uids.size,
            )[pos]
            if (s_uid.size + v_uid.size + p_uid.size)
            else np.zeros(present.size, dtype=np.int64)
        )
        yield pd.DataFrame(
            {
                "user_id": present,
                "has_signup": (all_s[pos] < NONE).astype(np.int32),
                "has_view": (tv_known[pos] < NONE).astype(np.int32),
                "has_purchase": (tp_known[pos] < NONE).astype(np.int32),
                "n_buf": n_buf.astype(np.int64),
                "batch_seq": np.full(present.size, seq, dtype=np.int64),
            }
        )

    emitted = enriched.groupBy("ub").applyInPandasWithState(
        update,
        "user_id long, has_signup int, has_view int, has_purchase int,"
        " n_buf long, batch_seq long",
        "buf binary, seq long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    try:
        return _drain("funnel", sf_dir, emitted, out_mode="update").table
    finally:
        # drain complete — the memory-sink table no longer references the
        # cached enrichment side
        users.unpersist()


@register("s_funnel", oracle=_FUNNEL_STREAM_ORACLE)
def s_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-EXACT STREAMING FUNNEL — the composition of the event-time
    buffering that powers s_ewma_state with q_funnel_stages' ordered
    stage predicates (history.py): signup → first view strictly AFTER
    the signup → first purchase strictly AFTER that view, over a live
    stream, with results equal to the batch funnel under ANY micro-batch
    interleaving.

    Why buffering is required for exactness: t_signup = min(signup ts)
    can DECREASE when an earlier signup arrives late, which can newly
    qualify a view that was previously before the funnel start — so a
    scalar "first view so far" is wrong under reordering.  Keyed state
    buffers each user's stage-event times and re-folds the chain per
    batch.  The landing payload carries no user_id, so a stream-static
    join against the events table recovers it first — the C13 enrichment
    pattern (in production the payload carries its key).

    BOUNDED STATE (round-10, closing round-9 VERDICT item 1): the job
    replays the ORDERED landing fixture with a 1-hour watermark, and
    every batch folds buffered stage times strictly below the watermark
    into three scalar stage mins (first signup, first qualified view,
    first qualified purchase) — final because no event below the
    watermark can still arrive, and a time's qualifying predecessors are
    strictly earlier still.  Per-user state is O(events within one batch
    span + horizon), independent of stream length; the un-evicted
    whole-history design measured 64 MB state / 123.8 s drain at 10 M
    events (BASELINE.md round-9).  State rides ONE packed int64 binary
    blob (the s_ewma_state Arrow-channel lesson).

    Timestamps are second-truncated (the landing render), so the oracle
    funnel runs on date_trunc('second', ts) — same stage predicates,
    same strictness.

    100 TB: the watermark horizon bounds per-user state; the enrichment
    side should be a pre-bucketed or broadcastable key map, and the
    per-user fold parallelizes across the key space."""
    from pyspark.sql.window import Window

    log = funnel_emitted_log(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_seq"))
    final = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("has_signup") == 1))
    )
    n_s = F.sum("has_signup").cast("bigint")
    n_v = F.sum("has_view").cast("bigint")
    n_p = F.sum("has_purchase").cast("bigint")
    return final.agg(
        n_s.alias("n_signup"),
        n_v.alias("n_view"),
        n_p.alias("n_purchase"),
        F.round(n_v / n_s.cast("double"), 4).alias("view_rate"),
        F.round(n_p / n_s.cast("double"), 4).alias("purchase_rate"),
    )


SCMS_W = 64  # streaming sketch width — deliberately under the entity
# cardinality so collisions are exercised
SCMS_D = 4  # independent hash rows
SCMS_ENTITY_DIV = 64  # entity key = event_id div 64: a high-cardinality
# stream key (the landing record shape is reference parity — no user
# column — so the entity stands in for user/session/device ids)


def _scms_duck_pos(r: int) -> str:
    expr = f"CAST(event_id // {SCMS_ENTITY_DIV} AS VARCHAR)"
    return (
        f"CAST(('0x' || substr(md5('scms{r}:' || {expr}), 1, 15))::BIGINT"
        f" % {SCMS_W} AS INT)"
    )


_SCMS_ORACLE = "\n      UNION ALL\n".join(
    f"""      SELECT make_timestamp(
               CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
               AS window_start,
             {r} AS r,
             {_scms_duck_pos(r)} AS pos,
             CAST(COUNT(*) AS BIGINT) AS cell
      FROM events GROUP BY 1, 3"""
    for r in range(SCMS_D)
)


@register("s_cms_window", oracle=_SCMS_ORACLE)
def s_cms_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING COUNT-MIN SKETCH — x_cms_heavy's stateful sibling: per
    5-minute tumbling window, a DxW integer cell matrix over a
    high-cardinality entity key (event_id div 64 — the landing record
    shape is reference parity and carries no user column, so the
    derived entity stands in for user/session/device), append mode —
    each window's sketch finalizes when the watermark passes, a
    continuously-published frequency summary whose state is BOUNDED at
    D·W counters per open window no matter how many distinct entities
    the stream carries.  Cells are additive (mergeable across windows /
    partitions); min-over-rows bounds any entity's count from above,
    exactly as in the batch twin.

    This is the sketch argument applied to streaming state: a per-entity
    windowed count holds |entities-per-window| state rows and grows with
    traffic; the sketch holds D·W regardless — the standard trade for
    high-cardinality stream monitoring.  The md5 positions are
    engine-portable, so the drained end state hash-checks against a
    full DuckDB replay (same shape as every s_* oracle)."""
    from data_pipeline_cursor_spark.text.dedup import phash

    df = _with_fixture_watermark(_stream(spark, sf_dir))
    entity = F.expr(
        f"CAST(CAST(event_id AS BIGINT) div {SCMS_ENTITY_DIV} AS STRING)"
    )
    probes = df.select(
        "event_time",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (phash(entity, f"scms{r}") % SCMS_W)
                        .cast("int")
                        .alias("pos"),
                    )
                    for r in range(SCMS_D)
                ]
            )
        ).alias("p"),
    ).select("event_time", F.col("p.r").alias("r"), F.col("p.pos").alias("pos"))
    agg = (
        probes.groupBy(
            F.window("event_time", "5 minutes"), F.col("r"), F.col("pos")
        )
        .agg(F.count(F.lit(1)).alias("cell"))
        .select(
            F.col("window.start").alias("window_start"), "r", "pos", "cell"
        )
    )
    return _drain("cms_window", sf_dir, agg).table


SHLL_M = 64  # registers per window; state = m rows/window, cardinality-free

_SHLL_ORACLE = f"""
    SELECT make_timestamp(
             CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
             AS window_start,
           CAST(h % {SHLL_M} AS INTEGER) AS bucket,
           CAST(MAX(55 - length(printf('%b', h // {SHLL_M}))) AS INTEGER)
             AS m_rank
    FROM (
      SELECT ts,
             ('0x' || substr(md5('shll:' ||
                CAST(event_id // {SCMS_ENTITY_DIV} AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events
    ) t
    GROUP BY 1, 2
"""


@register("s_hll_window", oracle=_SHLL_ORACLE)
def s_hll_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HYPERLOGLOG — x_hll_distinct's stateful sibling and
    s_cms_window's NDV counterpart: per 5-minute tumbling window, the
    {SHLL_M}-register HLL table over the derived high-cardinality entity
    key (event_id div {SCMS_ENTITY_DIV}, the s_cms_window stand-in),
    append mode.  Register update is MAX — commutative, idempotent,
    mergeable — so the streaming state is {SHLL_M} single-byte ranks per
    open window REGARDLESS of how many distinct entities the stream
    carries, and a restart/replay that double-delivers events cannot
    corrupt it (MAX absorbs duplicates; contrast a naive distinct-count
    whose state grows with cardinality AND breaks under replay).

    The emitted rows are the registers themselves — the mergeable
    summary a fleet of streams ships to a coordinator (element-wise MAX
    merges sites); the scalar estimate is one {SHLL_M}-row fold away,
    exactly x_hll_distinct's scaled-integer harmonic mean.  Register
    ranks are integer md5 math, so the drained end state hash-checks
    against a full DuckDB replay."""
    from data_pipeline_cursor_spark.text.dedup import phash

    df = _with_fixture_watermark(_stream(spark, sf_dir))
    entity = F.expr(
        f"CAST(CAST(event_id AS BIGINT) div {SCMS_ENTITY_DIV} AS STRING)"
    )
    h = phash(entity, "shll")
    hashed = df.select(
        "event_time",
        h.alias("h"),
    ).select(
        "event_time",
        F.pmod("h", F.lit(SHLL_M)).cast("int").alias("bucket"),
        (F.lit(55) - F.length(F.bin(F.expr(f"h div {SHLL_M}"))))
        .cast("int")
        .alias("rank"),
    )
    agg = (
        hashed.groupBy(F.window("event_time", "5 minutes"), F.col("bucket"))
        .agg(F.max("rank").alias("m_rank"))
        .select(
            F.col("window.start").alias("window_start"), "bucket", "m_rank"
        )
    )
    return _drain("hll_window", sf_dir, agg).table


_DRIFT_TYPES = ["click", "error", "purchase", "signup", "view"]
# per-type KL term, spelled with IDENTICAL arithmetic order in both
# dialects: (n/total) * ln(n*K/total), 0 when the type is absent
_DRIFT_TERM_SQL = " + ".join(
    f"""CASE WHEN n_{t} > 0
         THEN (CAST(n_{t} AS DOUBLE) / CAST(total AS DOUBLE))
              * ln(CAST(n_{t} AS DOUBLE) * {len(_DRIFT_TYPES)}.0
                   / CAST(total AS DOUBLE))
         ELSE 0.0 END"""
    for t in _DRIFT_TYPES
)

_SDRIFT_ORACLE = f"""
    WITH win AS (
      SELECT make_timestamp(
               CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
               AS window_start,
             {", ".join(
                 f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
                 for t in _DRIFT_TYPES)},
             CAST(COUNT(*) AS BIGINT) AS total
      FROM events
      GROUP BY 1
    )
    SELECT window_start, {", ".join(f"n_{t}" for t in _DRIFT_TYPES)}, total,
           CAST(ROUND(CAST({_DRIFT_TERM_SQL} AS DECIMAL(28,10)), 4)
                AS DOUBLE) AS kl_uniform
    FROM win
"""


@register("s_drift_window", oracle=_SDRIFT_ORACLE)
def s_drift_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DISTRIBUTION-DRIFT MONITOR — the stateful sibling of
    q_drift_kl / x_psi_drift: per 5-minute tumbling window, the
    event-type mix and its KL divergence from the uniform reference
    (1/{len(_DRIFT_TYPES)} per type), append mode — each window's drift
    score publishes when the watermark passes, the alarm signal a
    pipeline watches for upstream mix shifts (a spike means one producer
    went quiet or chatty).  Against a NON-uniform reference snapshot,
    broadcast the reference shares onto the stream before the aggregate
    (s_static_join's mechanism) — the plan shape is unchanged; the
    uniform reference keeps the job self-contained.

    State: ONE row of {len(_DRIFT_TYPES)} conditional counters per open
    window (the type axis is folded map-side as conditional sums — no
    per-type state rows, no second chained aggregate).  The KL
    expression evaluates on exact integer counts in a FIXED term order
    spelled identically in the DuckDB replay, then goes through the
    stable-round discipline, so the drained end state hash-checks.

    The flush sentinel's own type never reaches the output (its window
    sits past every real event and is never finalized in append mode),
    so the counters cover exactly the real types."""
    df = _with_fixture_watermark(_stream(spark, sf_dir))
    counts = [
        F.sum(
            F.when(F.col("event_type") == t, 1).otherwise(0)
        ).alias(f"n_{t}")
        for t in _DRIFT_TYPES
    ]
    agg = (
        df.groupBy(F.window("event_time", "5 minutes"))
        .agg(*counts, F.count(F.lit(1)).alias("total"))
        .select(
            F.col("window.start").alias("window_start"),
            *[f"n_{t}" for t in _DRIFT_TYPES],
            "total",
            stable_round4(
                sum(
                    [
                        F.when(
                            F.col(f"n_{t}") > 0,
                            (
                                F.col(f"n_{t}").cast("double")
                                / F.col("total").cast("double")
                            )
                            * F.log(
                                F.col(f"n_{t}").cast("double")
                                * F.lit(float(len(_DRIFT_TYPES)))
                                / F.col("total").cast("double")
                            ),
                        ).otherwise(F.lit(0.0))
                        for t in _DRIFT_TYPES
                    ],
                    F.lit(0.0),
                )
            ).alias("kl_uniform"),
        )
    )
    return _drain("drift_window", sf_dir, agg).table


# --- C26: streaming ANN serving ------------------------------------------
# The oracle is x_sim_topk's verbatim: the drained serve output over the
# streamed query slice must equal the batch brute-force top-5.  Importing
# the similarity module here (before reading _ORACLES) guarantees the
# registration exists regardless of registry._load_all_modules order.
from data_pipeline_cursor_spark.vectors.similarity import (  # noqa: E402
    sim_topk as _sim_topk,
)
from data_pipeline_cursor_spark.registry import (  # noqa: E402
    _ORACLES as _REGISTERED_ORACLES,
)


@register("s_ann_serve", oracle=_REGISTERED_ORACLES["x_sim_topk"])
def s_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN SERVING (C-surface completion of the E3 similarity
    stack): query vectors arrive as a stream; each micro-batch is scored
    against the static corpus and its top-5 neighbours are appended to
    the serving sink — the online leg of the retrieval pipeline whose
    offline legs are x_sim_topk / x_sim_lsh / x_sim_ivf.

    The micro-batch IS the query batcher: x_sim_topk's driver-sized
    query contract (refuse > MAX_QUERY_BATCH) is enforced per batch by
    maxFilesPerTrigger, not per corpus — an unbounded query stream
    serves fine because no more than a few files' vectors are ever in
    flight.  Each query's top-5 depends only on (query, corpus), so
    per-batch scoring composes to exactly the batch answer and the
    drained sink hash-matches x_sim_topk's oracle verbatim.

    Plan per micro-batch: the batch's vectors ship in the mapInPandas
    closure; the corpus parquet is scanned once per batch as a blocked
    BLAS matmul emitting local top-5s (never shuffled, no pair rows).
    100 TB: corpus-side cost scales with corpus × batch-rate — cache the
    corpus DataFrame across batches, or swap the scorer for
    x_sim_ivf's cell-probed variant (same foreachBatch shell) once the
    per-batch full scan dominates; state is ZERO (stateless serve,
    exactly-once via the parquet sink's per-batch commit)."""
    import uuid

    from data_pipeline_cursor_spark.streaming.sources import (
        write_query_landing_fixture,
    )

    landing = write_query_landing_fixture(spark, sf_dir, _work("qlanding"))
    schema = spark.read.parquet(landing).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(landing)
    )
    out_dir = _work("annserve", uuid.uuid4().hex[:8])

    def _score_batch(batch_df: DataFrame, _batch_id: int) -> None:
        res = _sim_topk(spark, sf_dir, queries=batch_df)
        res.write.mode("append").parquet(out_dir)

    drain(src, _ckpt("annserve"), _score_batch)
    return spark.read.parquet(out_dir)


@register(
    "s_scd2_lookup",
    oracle="""
    WITH dim AS (
      SELECT user_id, value, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id,
           ROUND(p.value, 4) AS purchase_value,
           ROUND(d.value, 4) AS click_value,
           strftime(d.valid_from, '%Y-%m-%d %H:%M:%S') AS version_from
    FROM events p JOIN dim d
      ON p.user_id = d.user_id
     AND p.ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    WHERE p.event_type = 'purchase'
    """,
)
def s_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL TABLE JOIN (Flink `FOR SYSTEM_TIME AS OF` twin; C-surface
    completion of the SCD2 family): each streamed purchase is enriched
    with the dimension VERSION that was valid at its event time — the
    user's click attributes as half-open validity intervals built by
    q_scd2_intervals' lead() derivation.  The classic feature-store /
    point-in-time-correct lookup: joining today's dimension row instead
    would leak future attribute values into past facts.

    The interval chain makes the match unique by construction (intervals
    per key partition the timeline; a duplicate-ts chain link is an
    empty [t, t) interval that can never match), so the drained output
    is exactly the batch interval join and fully hash-oracled.
    Purchases before a user's first click have no valid version and drop
    (inner join) — the flush sentinel drops with them for free.

    Plan per micro-batch: the dimension is static and BROADCAST; the
    stream side never shuffles; zero streaming state (stateless enrich).
    100 TB: dimension versions usually fit broadcast (keys × versions);
    when they don't, pre-bucket both sides on the key and let the range
    predicate run inside the per-key sorted merge — same plan family as
    q_join_range."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    wdim = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("d_user"),
            F.col("value").alias("d_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wdim).alias("valid_to"),
        )
    )
    # the reference record shape carries no user_id — recover it with the
    # C13 stream-static enrichment join on event_id (s_funnel's pattern)
    users = ev.select("event_id", "user_id")
    purchases = (
        _stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .join(users, "event_id")
    )
    joined = purchases.join(
        F.broadcast(dim),
        (F.col("user_id") == F.col("d_user"))
        & (F.col("event_time") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("event_time") < F.col("valid_to"))),
    ).select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("purchase_value"),
        F.round("d_value", 4).alias("click_value"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
            "version_from"
        ),
    )
    return _drain("scd2-lookup", sf_dir, joined).table


DQ_RANGE_MAX_CENTS = 40_000  # value <= 400.00 passes the range rule
DQ_MIN_ROWS = 5  # windows thinner than this fail the volume rule


@register(
    "s_quality_gate",
    oracle=f"""
    SELECT make_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000)
             AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_value,
           CAST(SUM(CASE WHEN CAST(round(value * 100, 0) AS BIGINT)
                              > {DQ_RANGE_MAX_CENTS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_out_of_range,
           (SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0)
             AS completeness_pass,
           (SUM(CASE WHEN CAST(round(value * 100, 0) AS BIGINT)
                          > {DQ_RANGE_MAX_CENTS} THEN 1 ELSE 0 END) = 0)
             AS range_pass,
           (COUNT(*) >= {DQ_MIN_ROWS}) AS volume_pass
    FROM events
    GROUP BY 1
    """,
)
def s_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DATA-QUALITY GATE (x_dq_rules' stateful sibling; the
    Deequ-on-a-stream pattern): per finalized 5-minute window, the rule
    counters a landing pipeline alerts on — null-rate (completeness),
    out-of-range count (validity, integer-cents compare), and row volume
    — each with its boolean verdict.  The fixture exercises both
    outcomes: thin windows fail the volume rule, windows containing a
    >400.00 reading fail the range rule, and completeness passes
    everywhere (the conditional counter still guards the contract the
    error-tolerant source could break).

    All three rules are CONDITIONAL COUNTERS inside the one windowed
    aggregate — the s_drift_window discipline: no per-rule state rows,
    no chained aggregation, state = one row per open window regardless
    of event rate.  Verdicts are derived FROM the counters post-agg, so
    the sink carries the evidence, not just the boolean.  100 TB: the
    same single watermarked window aggregate as s_tumble; alert routing
    belongs in the sink (foreachBatch on `NOT pass` rows)."""
    df = _with_fixture_watermark(_stream(spark, sf_dir))
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    agg = (
        df.groupBy(F.window("event_time", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("value").isNull(), 1).otherwise(0)
            ).alias("n_null_value"),
            F.sum(
                F.when(cents > DQ_RANGE_MAX_CENTS, 1).otherwise(0)
            ).alias("n_out_of_range"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "n_null_value",
            "n_out_of_range",
            (F.col("n_null_value") == 0).alias("completeness_pass"),
            (F.col("n_out_of_range") == 0).alias("range_pass"),
            (F.col("n_events") >= DQ_MIN_ROWS).alias("volume_pass"),
        )
    )
    return _drain("quality-gate", sf_dir, agg).table


@register(
    "s_gdpr_deletes",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(('0x' || substr(md5('gd:' || event_id), 1, 15))::BIGINT)
             AS checksum
    FROM events
    WHERE event_id % 17 <> 0
    GROUP BY event_type
    """,
)
def s_gdpr_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING GDPR/RETENTION DELETE FEED into the lakehouse — the
    C-surface twin of A15/A19: a stream of deletion requests (keys)
    lands as files, and each micro-batch publishes ONE merge-on-read
    equality-delete commit against the snapshot table
    (foreachBatch → snapshot_delete_keys) — no data file rewritten,
    O(batch keys) per commit, the exact architecture of a
    right-to-be-forgotten pipeline on Iceberg v2 (delete files) or
    Delta (deletion vectors).  maxFilesPerTrigger=1 forces multiple
    micro-batches so the commits genuinely STACK (cumulative delete
    files, one per batch), and the final read subtracts the union via
    the sequence-scoped broadcast anti-join.

    The DuckDB oracle replays the whole feed as ``event_id % 17 <> 0``:
    a hash match proves every streamed key — across all batches — is
    invisible and nothing else was lost.  The base commit is built
    through the resumable _fixture_table; the feed runs only while the
    table holds the base alone, so re-runs read, not re-delete, and
    bench repeats are idempotent.  A feed stopped partway still
    fail-stops: its fresh-uuid checkpoint cannot resume the stream.

    100 TB: each commit is O(keys in the batch) metadata + a tiny
    parquet; reads pay one broadcast anti-join until compaction
    materializes the deletes (q_delete_vectors' documented trade);
    partition-scoped delete files (A20) bound what any pruned read
    loads."""
    from data_pipeline_cursor_spark.catalog import (
        _commit_where,
        _count_checksum,
        _fixture_dir,
        _fixture_table,
        snapshot_delete_keys,
        snapshot_read,
        snapshot_versions,
    )

    table_dir = _fixture_table(spark, sf_dir, "snapgdpr", [_commit_where(spark)])
    versions = snapshot_versions(table_dir)
    if 1 < versions[-1] < 4:
        # crash partway through the 3-micro-batch delete feed: the
        # fresh-uuid checkpoint cannot resume the stream, and falling
        # through to the read path would serve a partially deleted
        # table as if the feed completed (ADVICE r11) — fail-stop
        raise RuntimeError(
            f"s_gdpr_deletes: half-built fixture at {table_dir} "
            f"(versions={versions}, expected base+3 delete commits) — "
            "clear the directory"
        )
    if versions[-1] == 1:
        # deletion-request landing: 3 parquet files → 3 micro-batches
        feed_dir = _fixture_dir(sf_dir, "gdprfeed")
        if not os.path.exists(os.path.join(feed_dir, "_SUCCESS")):
            (
                load_table(spark, sf_dir, "events")
                .filter(F.col("event_id") % 17 == 0)
                .select("event_id")
                .repartition(3)
                .write.mode("overwrite")
                .parquet(feed_dir)
            )
        src = (
            spark.readStream.schema("event_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )

        def apply_deletes(batch, _id):
            if batch.isEmpty():
                return
            snapshot_delete_keys(
                batch.sparkSession, table_dir, batch, key="event_id"
            )

        _drain("gdpr", sf_dir, src, apply_deletes)
    snap = snapshot_read(spark, table_dir)
    return _count_checksum(snap, "gd", "event_type")


@register(
    "s_merge_stream",
    oracle="""
    WITH final AS (
      SELECT event_id,
             CASE WHEN event_id % 10 = 2 THEN 'upd_' || event_type
                  ELSE event_type END AS event_type
      FROM events
      WHERE event_id % 4 <> 0 AND event_id % 10 <> 1
      UNION ALL
      SELECT event_id + 1000000000, 'ins'
      FROM events WHERE event_id % 10 = 3
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(('0x' || substr(md5('ms:' || event_id), 1, 15))::BIGINT)
             AS checksum
    FROM final GROUP BY event_type
    """,
)
def s_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING COW MERGE FEED — the Delta/Iceberg "MERGE INTO in
    foreachBatch" pattern (C19's CDC semantics composed with A14/A18's
    file-pruned copy-on-write merge): a change stream lands as files,
    and EACH micro-batch publishes one MERGE commit against the
    snapshot lakehouse — deletes (key % 10 = 1), updates (% 10 = 2,
    scoped to keys present in the base), and inserts (% 10 = 3, offset
    keys) resolved by snapshot_merge's clause join, with the manifest-
    bounds skip + touched-file detection pruning EVERY batch's rewrite
    to its own touched files.  maxFilesPerTrigger=1 forces three
    genuinely stacked merge commits (batch key sets are disjoint, so
    the final state is batch-order independent — the CDC determinism
    discipline of s_cdc_apply).

    The DuckDB oracle replays the whole feed algebraically over the
    base residue (% 4 <> 0): one hash proves every batch's clause
    resolution AND that no carried-by-reference file lost or doubled a
    row across the three stacked rewrites.

    100 TB: this is the architecture of a streaming upsert pipeline on
    a transactional lake — per-batch cost O(touched files + batch),
    atomic manifest publish per batch, time travel across every
    intermediate state for free."""
    from data_pipeline_cursor_spark.catalog import (
        MERGE_INSERT_OFFSET,
        _count_checksum,
        _fixture_dir,
        _fixture_table,
        _range_slices,
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
        snapshot_versions,
    )

    # 4 range-clustered base commits (disjoint bounds feed the skip)
    table_dir = _fixture_table(
        spark,
        sf_dir,
        "snapmrgstream",
        _range_slices(
            4,
            lambda d, df: snapshot_commit(
                spark, d, df.filter(F.col("event_id") % 4 != 0)
            ),
        ),
    )
    versions = snapshot_versions(table_dir)
    if 4 < versions[-1] < 7:
        raise RuntimeError(
            f"s_merge_stream: half-built fixture at {table_dir} "
            f"(versions={versions}, expected 4 base + 3 merge commits) — "
            "clear the directory"
        )
    if versions[-1] == 4:
        feed_dir = _fixture_dir(sf_dir, "mrgfeed")
        if not os.path.exists(os.path.join(feed_dir, "_SUCCESS")):
            (
                load_table(spark, sf_dir, "events")
                .select("event_id", "event_type")
                .filter(F.col("event_id") % 10 < 4)
                .filter(F.col("event_id") % 10 > 0)
                .repartition(3)
                .write.mode("overwrite")
                .parquet(feed_dir)
            )
        src = (
            spark.readStream.schema("event_id bigint, event_type string")
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )

        def apply_merge(batch, _id):
            if batch.isEmpty():
                return
            sp = batch.sparkSession
            kid = F.col("event_id")
            dele = batch.filter(kid % 10 == 1).select(
                "event_id",
                F.lit(None).cast("string").alias("event_type"),
                F.lit(True).alias("_delete"),
            )
            upd = batch.filter((kid % 10 == 2) & (kid % 4 != 0)).select(
                "event_id",
                F.concat(F.lit("upd_"), F.col("event_type")).alias(
                    "event_type"
                ),
                F.lit(False).alias("_delete"),
            )
            ins = batch.filter(kid % 10 == 3).select(
                (kid + MERGE_INSERT_OFFSET).alias("event_id"),
                F.lit("ins").alias("event_type"),
                F.lit(False).alias("_delete"),
            )
            source = dele.unionByName(upd).unionByName(ins)
            if source.isEmpty():
                return
            snapshot_merge(sp, table_dir, source, key="event_id")

        _drain("merge-stream", sf_dir, src, apply_merge)
    snap = snapshot_read(spark, table_dir)
    return _count_checksum(snap, "ms", "event_type")


@register(
    "s_snapshot_feed",
    oracle="""
    SELECT CAST((event_id % 3) + 1 AS INT) AS commit_version,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(('0x' || substr(md5('sv:' || event_id), 1, 15))::BIGINT)
             AS checksum
    FROM events
    GROUP BY 1, 2
    """,
)
def s_snapshot_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT CHANGE FEED as a first-class streaming SOURCE — Spark
    4's Python Data Source API (sources/snapshot_feed.py) exposing the
    manifest-versioned table to `spark.readStream.format(...)`:
    Delta's ``readChangeFeed`` / Iceberg's incremental streaming scan,
    with versions as offsets, per-commit InputPartitions planned from
    manifest metadata alone, and executor-side Arrow-batch reads.

    The drained frame aggregates per (commit_version, event_type): the
    3-commit fixture partitions event_id by residue, so the DuckDB
    oracle replays the commit stamp as ``(event_id % 3) + 1`` — one
    hash proves every commit's delta was delivered EXACTLY ONCE with
    the RIGHT version stamp (a duplicated, dropped, or mis-versioned
    file flips count or checksum of some (version, type) cell).

    100 TB: offset planning is O(manifests) driver metadata; each batch
    reads only its commits' added files.  The engine checkpoint makes
    restarts resume at the next unconsumed version — no bookkeeping in
    the source."""
    from data_pipeline_cursor_spark.catalog import (
        SNAPSHOT_COMMITS,
        _count_checksum,
        snapshot_events_table,
    )
    from data_pipeline_cursor_spark.sources.snapshot_feed import (
        register_snapshot_feed,
    )

    table_dir = snapshot_events_table(spark, sf_dir)
    fmt = register_snapshot_feed(spark)
    # ending_version pins the replay to the fixture's base commits:
    # the SHARED snaptable may gain a compaction rewrite version from
    # q_snapshot_compaction in the same session, and an unbounded feed
    # would (correctly!) deliver that rewrite as one more delta —
    # Delta's endingVersion exists for exactly this determinism
    sdf = (
        spark.readStream.format(fmt)
        .option("path", table_dir)
        .option("ending_version", str(SNAPSHOT_COMMITS))
        .load()
    )
    out = _drain("snapshot-feed", sf_dir, sdf).table
    version = F.col("_commit_version").alias("commit_version")
    return _count_checksum(out, "sv", version, "event_type")


@register(
    "s_feed_paced",
    oracle="""
    SELECT CAST((event_id % 3) + 1 AS INT) AS commit_version,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(('0x' || substr(md5('fp:' || event_id), 1, 15))::BIGINT)
             AS checksum
    FROM events
    GROUP BY 1, 2
    """,
)
def s_feed_paced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATE-LIMITED snapshot change feed (C32): the feed source's
    ``max_versions_per_batch`` admission control — Delta's
    maxFilesPerTrigger / Kafka's maxOffsetsPerTrigger at commit
    granularity.  A consumer starting behind a 3-commit backlog drains
    it capped at ONE version per micro-batch: the engine plans >= 3
    batches (counted from its progress records and asserted)
    instead of one giant replay batch — at 100 TB the difference
    between bounded, checkpointable catch-up batches and a single
    batch sized by the whole backlog.

    Same oracle as the unpaced feed: the final drained table must be
    IDENTICAL (per-commit stamps, exactly-once) however the batches
    were cut — pacing is pure admission control, never semantics."""
    import time
    import uuid

    from data_pipeline_cursor_spark.catalog import (
        SNAPSHOT_COMMITS,
        _count_checksum,
        snapshot_events_table,
    )
    from data_pipeline_cursor_spark.sources.snapshot_feed import (
        register_snapshot_feed,
    )

    table_dir = snapshot_events_table(spark, sf_dir)
    fmt = register_snapshot_feed(spark)
    sdf = (
        spark.readStream.format(fmt)
        .option("path", table_dir)
        .option("ending_version", str(SNAPSHOT_COMMITS))
        .option("max_versions_per_batch", "1")
        .load()
    )
    name = "pacedfeed_" + uuid.uuid4().hex[:8]
    with stream_state_partitions(spark, _drain_state_parts(sf_dir)):
        # availableNow's single-batch fallback would collapse the paced
        # batches, so drive with a tight processingTime trigger and stop
        # once the capped batches have caught up to the ending version
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ckpt("feed-paced"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        import json as _json

        def _end_version(lp) -> int | None:
            if not (lp and lp["sources"] and lp["sources"][0]["endOffset"]):
                return None
            eo = lp["sources"][0]["endOffset"]
            if isinstance(eo, str):
                # the python-source offset serializes as a dict repr
                # (single quotes), not strict JSON — accept both
                try:
                    eo = _json.loads(eo)
                except _json.JSONDecodeError:
                    import ast as _ast

                    eo = _ast.literal_eval(eo)
            return eo.get("version")

        # once a batch's END offset reaches the ending version, that
        # batch has committed (progress posts after the sink commit) —
        # no further batch will be planned, so stop polling there
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if _end_version(q.lastProgress) == SNAPSHOT_COMMITS:
                break
            time.sleep(0.2)
        else:
            q.stop()
            raise TimeoutError("s_feed_paced: did not catch up in 120 s")
        report = DrainReport.of(q, spark)
        q.stop()
        q.awaitTermination()
    n_batches = sum(1 for p in report.progress if p["numInputRows"] > 0)
    if n_batches < SNAPSHOT_COMMITS:
        raise AssertionError(
            f"s_feed_paced: backlog drained in {n_batches} "
            f"batches — max_versions_per_batch=1 must cut >= "
            f"{SNAPSHOT_COMMITS} (admission control regressed)"
        )
    out = spark.table(name)
    version = F.col("_commit_version").alias("commit_version")
    return _count_checksum(out, "fp", version, "event_type")
