"""Temporal/history operators (SURVEY.md §2.D extension — the lakehouse
change-tracking surface).

The reference's serving table keeps only the latest row per key (Postgres
PK upsert, /root/reference/flink/init-analytics-db.sql:9) and its Iceberg
table keeps full append history (run.sh:88-114) — the two classic
change-tracking postures.  These operators implement the standard
warehouse derivations between them: SCD type-2 validity intervals from an
append log, and a changelog diff between two snapshots.

Scale notes (100 TB):
- SCD2 is one shuffle on the entity key + a per-key sort (lead window) —
  the same profile as any per-key window op; no self-join, no driver state.
- The changelog diff is a single full-outer equi-join of two snapshot
  scans; both sides prune to the compared columns, and at 100 TB the join
  co-locates for free if both snapshots are bucketed on the key
  (q_join_bucketed's layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_cursor_spark.registry import register
from data_pipeline_cursor_spark.sources import load_table


@register(
    "q_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, value, ts,
             lead(ts) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS next_ts,
             event_id
      FROM events
      WHERE event_type IN ('click', 'view')
    )
    SELECT user_id, event_type,
           ROUND(value, 4) AS value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(next_ts, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00')
             AS valid_to,
           (next_ts IS NULL) AS is_current
    FROM ordered
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 build: turn an append-only event log into per-key
    validity intervals — each observation valid from its own timestamp
    until the key's next observation (open-ended sentinel for the current
    row).  The standard dimension-history derivation, as one lead()
    window; ordering made total with event_id so same-timestamp rows
    produce a deterministic chain."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    next_ts = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(next_ts, "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        next_ts.isNull().alias("is_current"),
    )


@register(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id
    ),
    new AS (
      SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM events
      GROUP BY user_id
    )
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           o.total AS old_total,
           n.total AS new_total,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.user_id IS NULL THEN 'delete'
                WHEN o.total <> n.total THEN 'update'
                ELSE 'unchanged' END AS change
    FROM old o FULL JOIN new n ON o.user_id = n.user_id
    WHERE NOT (o.total IS NOT DISTINCT FROM n.total)
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog diff between two snapshot states (CDC derivation): the
    per-user aggregate as of a cutoff vs as of now, classified
    insert/delete/update — what a MERGE INTO consumes, derived here the
    set-based way.  Unchanged rows are filtered with null-safe equality
    (IS NOT DISTINCT FROM ≡ Spark's eqNullSafe), so the emitted set IS
    the minimal changelog.  Decimal-exact sums keep old/new comparable
    cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    total = F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
    old = (
        ev.filter(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"))
        .groupBy(F.col("user_id").alias("o_user"))
        .agg(total.alias("old_total"))
    )
    new = ev.groupBy(F.col("user_id").alias("n_user")).agg(
        total.alias("new_total")
    )
    joined = old.join(new, old.o_user == new.n_user, "full")
    return joined.filter(
        ~F.col("old_total").eqNullSafe(F.col("new_total"))
    ).select(
        F.coalesce("o_user", "n_user").alias("user_id"),
        "old_total",
        "new_total",
        F.when(F.col("o_user").isNull(), "insert")
        .when(F.col("n_user").isNull(), "delete")
        .when(F.col("old_total") != F.col("new_total"), "update")
        .otherwise("unchanged")
        .alias("change"),
    )


@register(
    "q_pattern_match",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             lag(value, 1) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS v1,
             lag(value, 2) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS v2
      FROM events
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS match_end,
           ROUND(v2, 4) AS v_first,
           ROUND(v1, 4) AS v_mid,
           ROUND(value, 4) AS v_last
    FROM w
    WHERE v2 < v1 AND v1 < value
    """,
)
def pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern detection, MATCH_RECOGNIZE re-expressed (the reference
    ships Flink, whose SQL surface includes MATCH_RECOGNIZE; Spark has no
    such clause): the pattern A < B < C — three strictly-rising values per
    user — as two lag() windows + one predicate, emitting each match's
    final row with the matched triple.

    The lag formulation IS the scale answer for fixed-length patterns: one
    shuffle on the partition key, sequential scan per key, no NFA state.
    (Variable-length / Kleene patterns need a stateful pass —
    applyInPandasWithState, s_custom_state's shape.)  Ordering is made
    total with event_id, so matches are deterministic under ties."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v1, v2 = F.lag("value", 1).over(w), F.lag("value", 2).over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "value",
            v1.alias("v1"),
            v2.alias("v2"),
        )
        .filter((F.col("v2") < F.col("v1")) & (F.col("v1") < F.col("value")))
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("match_end"),
            F.round("v2", 4).alias("v_first"),
            F.round("v1", 4).alias("v_mid"),
            F.round("value", 4).alias("v_last"),
        )
    )


@register(
    "q_funnel_stages",
    oracle="""
    WITH s AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN v ON v.user_id = e.user_id
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
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (the product-analytics staple): users who
    signed up → first view AFTER the signup → first purchase AFTER that
    view, with per-stage counts and conversion rates.  The ORDER
    constraint (each stage strictly after the previous) is what separates
    a funnel from three independent counts.

    Plan: three conditional min-aggregates chained by per-user joins —
    each stage shuffles once on user_id and the join keys co-locate, so
    stage N+1 reuses stage N's partitioning.  Counts are integers;
    rates are one exact division each."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        )
    ).filter(F.col("t_signup").isNotNull())
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    joined = s.join(v, "user_id", "left").join(p, "user_id", "left")
    n_s, n_v, n_p = (
        F.count("t_signup"),
        F.count("t_view"),
        F.count("t_purchase"),
    )
    return joined.agg(
        n_s.alias("n_signup"),
        n_v.alias("n_view"),
        n_p.alias("n_purchase"),
        F.round(n_v / n_s.cast("double"), 4).alias("view_rate"),
        F.round(n_p / n_s.cast("double"), 4).alias("purchase_rate"),
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts)) / 604800) AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w
      FROM events
    )
    SELECT f.cohort_week,
           CAST(a.w - f.cohort_week AS BIGINT) AS k,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM act a JOIN first f ON f.user_id = a.user_id
    WHERE a.w - f.cohort_week <= 4
    GROUP BY f.cohort_week, a.w - f.cohort_week
    ORDER BY cohort_week, k
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (the product-analytics staple next to the
    funnel): users cohorted by first-activity week, counted as active in
    each subsequent week offset k — the diagonal decay table retention
    dashboards plot.

    Week bucketing is integer epoch-week arithmetic (truncated seconds
    cannot cross a 604800 s boundary vs fractional epoch — both engines
    land in the same week).  Plan: one per-user min-aggregate + one
    distinct — both shuffle on user_id and co-locate for the join; the
    final aggregate's key space is |weeks|×|offsets|, tiny at any SF."""
    ev = load_table(spark, sf_dir, "events")
    week = lambda c: F.floor(F.unix_timestamp(c) / 604800).cast("long")  # noqa: E731
    first = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_week"))
    act = ev.select("user_id", week(F.col("ts")).alias("w")).distinct()
    return (
        act.join(first, "user_id")
        .withColumn("k", F.col("w") - F.col("cohort_week"))
        .filter(F.col("k") <= 4)
        .groupBy("cohort_week", "k")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "k")
    )


@register(
    "q_anomaly_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             AVG(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 4) AS value,
           ROUND((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE abs((e.value - s.mu) / s.sigma) > 2.5
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flags (the monitoring-pipeline staple): events more
    than 2.5 per-key standard deviations from their key's mean.

    Per-key stats are an O(keys) broadcast joined back onto the scan —
    the fact never shuffles.  stddev's float fold sits 6+ orders of
    magnitude above the 2.5 cutoff's ulp neighborhood for this fixture,
    and emitted z-scores are round-4; boundary-riding values would need
    the DECIMAL quantization treatment (registry.py rules)."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), ev.event_type == F.col("et"))
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("z"),
        )
    )


@register(
    "q_join_nullsafe",
    oracle="""
    WITH a AS (
      SELECT event_id, nullif(event_type, 'error') AS k, value FROM events
      WHERE event_id % 7 = 0
    ),
    b AS (
      SELECT nullif(event_type, 'error') AS k,
             CAST(COUNT(*) AS BIGINT) AS n_side
      FROM events GROUP BY 1
    )
    SELECT a.event_id, a.k, ROUND(a.value, 4) AS value, b.n_side
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (D-family completion: `<=>` ≡ IS NOT DISTINCT
    FROM) — NULL keys MATCH each other instead of vanishing, the semantic
    a changelog/dimension join needs when NULL is a real key value.
    Spark plans `<=>` as a hash join (it is still an equi-predicate), so
    the cost model is the plain join's."""
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("error"))
    a = ev.filter(F.col("event_id") % 7 == 0).select(
        "event_id", k.alias("k"), "value"
    )
    b = ev.select(k.alias("bk")).groupBy("bk").agg(
        F.count(F.lit(1)).alias("n_side")
    )
    return (
        a.join(b, a.k.eqNullSafe(b.bk))
        .select("event_id", "k", F.round("value", 4).alias("value"), "n_side")
    )


GAP_BUCKET = 1 << 16  # ids per lag partition (the parallelism unit)


@register(
    "q_gap_detect",
    oracle="""
    -- fixture ids are contiguous, so a deterministic slice (id % 97 = 13)
    -- is dropped first and the detector must recover EXACTLY those holes
    -- (the x_dedup_exact synthetic-fixture convention)
    WITH kept AS (
      SELECT event_id FROM events WHERE event_id % 97 != 13
    ),
    runs AS (
      SELECT event_id,
             lag(event_id) OVER (ORDER BY event_id) AS prev_id
      FROM kept
    )
    SELECT CAST(prev_id + 1 AS BIGINT) AS gap_start,
           CAST(event_id - 1 AS BIGINT) AS gap_end,
           CAST(event_id - prev_id - 1 AS BIGINT) AS n_missing
    FROM runs
    WHERE event_id - prev_id > 1
    """,
)
def gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-GAP detection — the completeness check run on ingested
    logs with monotonically-assigned ids (Kafka offsets, DB sequences):
    every missing id range as (gap_start, gap_end, n_missing) — never by
    joining against a generated full-range spine, which materializes
    max(id) rows to find a handful of holes.

    The fixture's ids are contiguous, so the query first drops a
    deterministic slice and must recover exactly those holes — keeping
    the oracle non-vacuous at every SF.

    SCALE PLAN (round-7 fix of the single-partition global window): two
    levels, neither sorting the full table on one task.
    (1) ids group by ``event_id div 65536`` — ONE hash shuffle, as
        parallel as the cluster; each bucket's ids are sorted as a
        bounded array (≤65536 longs = 512 KB, partial-aggregated
        map-side) and adjacent-pair gaps fall out of a zip_with over
        the array against its shift — every gap whose endpoints share
        a bucket, no window over the raw grain.
    (2) the per-bucket (min_id, max_id) summary — |ids| / 65536 rows —
        is lagged by bucket order to catch the boundary-crossing gaps
        (adjacent kept ids in different buckets are necessarily their
        buckets' max and min, with only empty buckets between).
    Every adjacent id pair is inspected by exactly one level, so the
    union equals a single global lag.  The only unpartitioned window
    consumes the 65536×-reduced summary: at 10^13 ids that is ~10^8
    rows — and the same two-level split can be applied recursively if a
    deployment needs more."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    kept = ev.filter(F.col("event_id") % 97 != 13).select(
        "event_id", F.expr(f"event_id div {GAP_BUCKET}").alias("bucket")
    )
    # cache: the bucketed array aggregate feeds BOTH levels (intra-bucket
    # pair scan + boundary summary) — uncached it would shuffle twice
    ag = (
        kept.groupBy("bucket")
        .agg(F.sort_array(F.collect_list("event_id")).alias("ids"))
        .cache()
    )
    gap_cols = [
        (F.col("prev_id") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
        (F.col("event_id") - F.col("prev_id") - 1).alias("n_missing"),
    ]
    # adjacent in-bucket pairs: ids[0..n-2] zipped with ids[1..n-1]
    # (slice of length 0 on a 1-element bucket → empty, no guard needed)
    adj = F.zip_with(
        F.slice("ids", 1, F.size("ids") - 1),
        F.slice("ids", 2, F.greatest(F.size("ids") - 1, F.lit(0))),
        lambda p, q: F.struct(p.alias("prev_id"), q.alias("event_id")),
    )
    intra = (
        ag.select(
            F.explode(
                F.filter(adj, lambda s: s["event_id"] - s["prev_id"] > 1)
            ).alias("g")
        )
        .select("g.prev_id", "g.event_id")
        .select(*gap_cols)
    )
    summary = ag.select(
        "bucket",
        F.element_at("ids", 1).alias("min_id"),
        F.element_at("ids", -1).alias("max_id"),
    )
    # the summary is DELIBERATELY windowed on one task: it is 65536x
    # smaller than the input (a foldable lit() partition key would be
    # optimized away anyway); test_plans pins that no unpartitioned
    # window ever touches the id grain
    ws = Window.orderBy("bucket")
    cross = (
        summary.withColumn("prev_id", F.lag("max_id").over(ws))
        .withColumnRenamed("min_id", "event_id")
        .filter(F.col("event_id") - F.col("prev_id") > 1)
        .select(*gap_cols)
    )
    return intra.unionByName(cross)


BITMAP_VALUE_MIN = 180.0  # per-type user sets: users with a value above
# this (selective at every SF: ~27% of users per type), so intersections
# are partial and the bitmap math is exercised, not vacuous
BITMAP_WORD_BITS = 32  # bits packed per int64 word (positive shifts only)


@register(
    "x_bitmap_users",
    oracle=f"""
    WITH bm AS (
      SELECT event_type,
             user_id // {BITMAP_WORD_BITS} AS word,
             bit_or(1::BIGINT << CAST(user_id % {BITMAP_WORD_BITS} AS INT))
               AS bits
      FROM events
      WHERE value > {BITMAP_VALUE_MIN!r}
      GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type,
             CAST(SUM(bit_count(bits)) AS BIGINT) AS users
      FROM bm GROUP BY 1
    ),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS co_users
      FROM bm a JOIN bm b
        ON a.word = b.word AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT ta.event_type AS type_a, tb.event_type AS type_b,
           ta.users AS users_a, tb.users AS users_b,
           COALESCE(co.co_users, 0) AS co_users,
           ROUND(CAST(COALESCE(co.co_users, 0) AS DOUBLE)
                 / (ta.users + tb.users - COALESCE(co.co_users, 0)), 4)
             AS jaccard
    FROM t ta JOIN t tb ON ta.event_type < tb.event_type
    LEFT JOIN co ON co.type_a = ta.event_type AND co.type_b = tb.event_type
    """,
)
def bitmap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX audience overlap — the roaring-bitmap pattern every
    OLAP engine uses for COUNT(DISTINCT)-heavy cohort queries, built
    from plain integer columns: each event type's qualifying-user set
    (value > {BITMAP_VALUE_MIN}) is packed into
    (word = user_id div {BITMAP_WORD_BITS},
    bits = OR of 1 << user_id mod {BITMAP_WORD_BITS}) rows; distinct
    users = Σ popcount(bits), pairwise co-audience = Σ popcount(a AND b)
    on word-aligned rows.  Output: the event-type co-occurrence matrix
    (audience sizes, intersection, Jaccard).

    100 TB: the bitmap build is ONE partial-aggregated shuffle on
    (type, word) — OR is idempotent so duplicate events never inflate,
    and each partition emits at most |user-domain|/{BITMAP_WORD_BITS}
    words per type.  Set algebra then runs at WORD grain (domain/
    {BITMAP_WORD_BITS} rows), never user grain: the intersection join
    is word-aligned equi, |types|² × words, independent of event count.
    Bitmaps are the third mergeable-summary family next to KMV
    (x_kmv_distinct: approximate, fixed size) and CMS (x_cms_heavy:
    frequencies) — exact distinct counts at dense-domain cost; a real
    deployment compresses sparse words (roaring) but the algebra is
    identical.  Every count is integer → fully hash-oracled."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value") > BITMAP_VALUE_MIN
    )
    bm = (
        ev.select(
            "event_type",
            (F.col("user_id") / BITMAP_WORD_BITS)
            .cast("long")
            .alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(user_id % {BITMAP_WORD_BITS} AS INT))"
            ).alias("bit"),
        )
        .groupBy("event_type", "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    t = bm.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("users")
    )
    co = (
        bm.alias("a")
        .join(
            bm.alias("b"),
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.sum(F.bit_count(F.col("a.bits").bitwiseAND(F.col("b.bits"))))
            .cast("long")
            .alias("co_users")
        )
    )
    ta = t.select(
        F.col("event_type").alias("type_a"), F.col("users").alias("users_a")
    )
    tb = t.select(
        F.col("event_type").alias("type_b"), F.col("users").alias("users_b")
    )
    pairs = ta.join(tb, F.col("type_a") < F.col("type_b"))
    out = pairs.join(F.broadcast(co), ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        "users_a",
        "users_b",
        F.coalesce("co_users", F.lit(0)).alias("co_users"),
    )
    return out.select(
        "type_a",
        "type_b",
        "users_a",
        "users_b",
        "co_users",
        F.round(
            F.col("co_users").cast("double")
            / (F.col("users_a") + F.col("users_b") - F.col("co_users")),
            4,
        ).alias("jaccard"),
    )


@register(
    "q_pit_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, value, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(round(p.value * 100, 0) AS BIGINT)) AS BIGINT)
             AS purchase_cents,
           CAST(SUM(CAST(round(d.value * 100, 0) AS BIGINT)) AS BIGINT)
             AS click_cents_at_purchase
    FROM events p JOIN dim d
      ON p.user_id = d.user_id
     AND p.ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    WHERE p.event_type = 'purchase'
    GROUP BY p.user_id
    """,
)
def pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH point-in-time join (feature-store BACKFILL; s_scd2_lookup is
    the online leg of this exact plan): every historical purchase joined
    to the click-dimension version valid AT ITS OWN event time, then
    rolled up per user — the offline training-set construction where
    joining today's dimension row would leak future features into past
    labels.  Interval chains (q_scd2_intervals' lead() derivation) make
    each fact match exactly one version; integer-cents folds keep the
    per-user sums hash-exact.

    Plan: the dimension is versions-sized (keys × changes) and
    BROADCAST; the fact side never shuffles before its per-user
    aggregate.  100 TB: when versions outgrow broadcast, bucket both
    sides on the key — the range predicate then runs inside the per-key
    sorted merge (q_join_range's family); the asof-join formulation
    (q_join_asof) is the same semantics when only the latest-before
    version matters."""
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
    p = ev.filter(F.col("event_type") == "purchase")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("bigint")  # noqa: E731
    return (
        p.join(
            F.broadcast(dim),
            (F.col("user_id") == F.col("d_user"))
            & (F.col("ts") >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.col("ts") < F.col("valid_to"))
            ),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(cents("value")).alias("purchase_cents"),
            F.sum(cents("d_value")).alias("click_cents_at_purchase"),
        )
    )


MV_CUTOFF = "2024-01-16 00:00:00"  # the "last refresh" watermark


@register(
    "q_mv_incremental",
    oracle="""
    -- the FULL recompute: what the incremental merge must equal
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           ROUND(CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 100.0, 4) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE (the delta-refresh
    identity every aggregate-MV engine rests on): the stored per-key
    aggregate state as of the last refresh is MERGED with the aggregate
    of only the rows that arrived since — never rescanning history.
    The registered ORACLE is the FULL recompute over all events, so the
    hash match IS the maintenance-correctness proof: merge(old, delta)
    ≡ recompute(all), key by key, to the cent.

    Here the "stored" MV is derived from the same table filtered to
    ts < cutoff (the fixture has no external store); in production that
    branch is a read of the MV's own parquet/Delta state and the scan
    below touches ONLY the delta partition — the 100 TB point: refresh
    cost scales with the DELTA, not the history.  COUNT and SUM merge
    by addition (both are semigroup folds); AVG is re-derived from the
    merged pair — the standard decomposition (never merge averages).
    FULL OUTER on the key with zero-coalesce handles keys new since the
    refresh and keys with no new rows.

    Plan: two scans (MV branch + delta branch — in production: MV read
    + delta scan), each with the time predicate PUSHED to the parquet
    scan, one per-key merge join at |keys| grain."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    cut = F.lit(MV_CUTOFF).cast("timestamp")

    def agg(df: DataFrame, pre: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(f"{pre}_n"),
            F.sum(cents).alias(f"{pre}_cents"),
        )

    old = agg(ev.filter(F.col("ts") < cut), "old")  # the stored MV state
    delta = agg(ev.filter(F.col("ts") >= cut), "new")  # rows since refresh
    z = F.lit(0).cast("bigint")
    merged = old.join(delta, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce("old_n", z) + F.coalesce("new_n", z)).alias("n_events"),
        (F.coalesce("old_cents", z) + F.coalesce("new_cents", z)).alias(
            "sum_cents"
        ),
    )
    return merged.select(
        "event_type",
        "n_events",
        "sum_cents",
        F.round(
            F.col("sum_cents").cast("double") / F.col("n_events") / 100.0, 4
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution — the marketing-analytics verb every event
# warehouse derives from a raw touch/conversion log.  The reference's
# event log (logging-server/server.py: event rows with type + value)
# carries exactly the three roles this needs: touches ('view', 'click'),
# conversions ('purchase'), and a conversion value.
# ---------------------------------------------------------------------------

ATTRIB_TOUCHES = ("click", "view")  # channels credit can land on


@register(
    "q_attribution",
    oracle=f"""
    WITH o AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             first_value(CASE WHEN event_type IN ('click', 'view')
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events
    ),
    p AS (
      SELECT COALESCE(first_touch, '(none)') AS fc,
             COALESCE(last_touch, '(none)') AS lc, cents
      FROM o WHERE event_type = 'purchase'
    ),
    fa AS (
      SELECT fc AS channel, CAST(COUNT(*) AS BIGINT) AS n_first,
             CAST(SUM(cents) AS BIGINT) AS first_cents
      FROM p GROUP BY 1
    ),
    la AS (
      SELECT lc AS channel, CAST(COUNT(*) AS BIGINT) AS n_last,
             CAST(SUM(cents) AS BIGINT) AS last_cents
      FROM p GROUP BY 1
    )
    SELECT COALESCE(fa.channel, la.channel) AS channel,
           COALESCE(n_first, 0) AS n_first,
           COALESCE(first_cents, 0) AS first_cents,
           COALESCE(n_last, 0) AS n_last,
           COALESCE(last_cents, 0) AS last_cents
    FROM fa FULL OUTER JOIN la ON fa.channel = la.channel
    """,
)
def attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH REVENUE ATTRIBUTION (first-touch and last-touch): for
    every conversion ('purchase'), find the user's first and most recent
    marketing touch ('click'/'view') STRICTLY BEFORE the conversion, and
    credit the conversion's cents to those channels.  Conversions with no
    prior touch land in the '(none)' bucket — the organic/dark-traffic
    line every attribution report carries.  Position-based (U-shaped) and
    linear models are re-weightings of the same two window columns plus a
    per-conversion touch count; the plan shape below is the whole cost.

    Plan/scale: ONE shuffle on user_id, then both IGNORE-NULLS window
    reads over the same per-user sort (one Window node — same
    partitioning, ordering, and frame), a filter to conversions, a 2-way
    explode into (model, channel) credit rows, and ONE channel-grain
    aggregate with conditional sums.  NOT two aggregates full-outer
    joined on channel — the naive spelling made Spark recompute the
    whole window branch once per model (two corpus scans, two user_id
    shuffles; plan inspected); the explode form pays 2 rows per
    conversion instead, the q_quality_funnel "k gates = one scan"
    discipline.  And no self-join of touches onto conversions — the
    classic O(touches × conversions) formulation — because the running
    window carries the needed touch forward in O(1) state per row.  At
    100 TB: identical profile to q_sessionize (one keyed sort-window
    pass); channel grain is tiny by construction.  Cents are integers
    end-to-end (the q_mv_incremental convention), so the hash comparison
    is exact."""
    ev = load_table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin(*ATTRIB_TOUCHES), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    credits = (
        ev.select(
            "event_type",
            cents.alias("cents"),
            F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
            F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("first").alias("model"),
                        F.coalesce("first_touch", F.lit("(none)")).alias(
                            "channel"
                        ),
                    ),
                    F.struct(
                        F.lit("last").alias("model"),
                        F.coalesce("last_touch", F.lit("(none)")).alias(
                            "channel"
                        ),
                    ),
                )
            ).alias("mc"),
            "cents",
        )
        .select("mc.model", "mc.channel", "cents")
    )
    z = F.lit(0).cast("bigint")
    is_f = F.col("model") == "first"
    return credits.groupBy("channel").agg(
        F.count(F.when(is_f, 1)).alias("n_first"),
        F.coalesce(F.sum(F.when(is_f, F.col("cents"))), z).alias(
            "first_cents"
        ),
        F.count(F.when(~is_f, 1)).alias("n_last"),
        F.coalesce(F.sum(F.when(~is_f, F.col("cents"))), z).alias(
            "last_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Bitemporal point query — the SQL:2011 two-axis read every regulated
# warehouse eventually needs: "what did the system BELIEVE at commit
# version V about the state VALID at business time T?"  Transaction time
# comes from the manifest-versioned snapshot layer (catalog.snapshot_*),
# valid time from SCD2 intervals derived inside that snapshot.
# ---------------------------------------------------------------------------

BITEMP_VALID_TS = "2024-01-16 00:00:00"  # mid-corpus business-time cutoff


@register(
    "q_bitemporal",
    oracle=f"""
    WITH snap AS (
      SELECT event_id, user_id, ts, event_type, value
      FROM events WHERE event_id % 3 < 2
    ),
    iv AS (
      SELECT user_id, event_type, value, ts AS valid_from, event_id,
             lead(ts) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS valid_to
      FROM snap WHERE event_type IN ('click', 'view')
    ),
    pitrow AS (
      SELECT * FROM iv
      WHERE valid_from <= TIMESTAMP '{BITEMP_VALID_TS}'
        AND (valid_to IS NULL OR valid_to > TIMESTAMP '{BITEMP_VALID_TS}')
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           bit_xor(('0x' || substr(md5('bt:' || user_id || ':' || event_id),
                                   1, 15))::BIGINT) AS checksum
    FROM pitrow GROUP BY event_type
    """,
)
def bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL POINT QUERY (SQL:2011 ``FOR SYSTEM_TIME AS OF ...  FOR
    BUSINESS_TIME AS OF ...``): transaction-time travel to snapshot
    VERSION 2 of a 3-commit manifest-versioned table (the belief as of
    that commit — commit 3's rows must not leak in), then within that
    snapshot the SCD2 valid-interval state at business time
    {BITEMP_VALID_TS} — per (user, type), the interval row whose
    [valid_from, valid_to) contains the cutoff.  Aggregated per type:
    live entities, their cents, an order-insensitive identity checksum.

    The DuckDB oracle replays BOTH axes algebraically — the transaction
    axis as the commit residue (event_id % 3 < 2, the q_time_travel
    contract), the valid axis as the same lead-window interval build —
    so one hash match proves snapshot isolation AND interval-state
    correctness jointly; an anachronistic row on either axis flips the
    checksum.

    Plan/scale: the versioned read is a plain parquet scan of a pinned
    file list (pushdown intact); the valid axis costs ONE shuffle on
    (user, type) + a lead window — q_scd2_intervals' profile; the AS OF
    filter then cuts to |live entities| before the final tiny
    aggregate.  At 100 TB this is exactly how a lakehouse answers
    audit-date questions: Iceberg VERSION AS OF for the system axis,
    an SCD2 derivation for the business axis — neither axis needs the
    other's machinery."""
    from data_pipeline_cursor_spark.catalog import (
        _fixture_table,
        _residue_commits,
        snapshot_read,
    )

    table_dir = _fixture_table(
        spark,
        sf_dir,
        "snapbitemp",
        _residue_commits(spark),
        cols=("event_id", "user_id", "ts", "event_type", "value"),
    )
    snap = snapshot_read(spark, table_dir, version=2)
    cut = F.lit(BITEMP_VALID_TS).cast("timestamp")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    iv = snap.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "event_type",
        "value",
        "event_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    asof = iv.filter(
        (F.col("valid_from") <= cut)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > cut))
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    ident = F.concat(
        F.lit("bt:"),
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.col("event_id").cast("string"),
    )
    return asof.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.sum(cents).alias("sum_cents"),
        F.bit_xor(
            F.conv(F.substring(F.md5(ident), 1, 15), 16, 10).cast("long")
        ).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Experiment (A/B) analysis — the product-analytics verb downstream of
# attribution: deterministic hash assignment, per-variant conversion,
# and the two-proportion z statistic an experimentation platform serves.
# ---------------------------------------------------------------------------


@register(
    "q_ab_test",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2
                  AS INT) AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM assign GROUP BY variant
    ),
    pooled AS (
      SELECT CAST(SUM(n_converted) AS DOUBLE) / SUM(n_users) AS p,
             SUM(1.0 / n_users) AS inv_n
      FROM v
    ),
    diff AS (
      SELECT MAX(CASE WHEN variant = 1 THEN n_converted * 1.0 / n_users END)
             - MAX(CASE WHEN variant = 0 THEN n_converted * 1.0 / n_users END)
               AS d
      FROM v
    )
    SELECT v.variant, v.n_users, v.n_converted,
           ROUND(v.n_converted * 1.0 / v.n_users, 4) AS conv_rate,
           ROUND(diff.d / sqrt(pooled.p * (1 - pooled.p) * pooled.inv_n), 4)
             AS z_stat
    FROM v, pooled, diff
    """,
)
def ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT READOUT: users deterministically hash-assigned to
    two variants (md5 bucketing — the assignment rule every
    experimentation platform uses so a user re-lands in their variant
    without a lookup table), conversion = a 'purchase' event with
    value >= 150 (a high-value-purchase goal metric; the same threshold
    is pinned in the oracle); emits
    per-variant user counts, conversions, conversion rate, and the
    POOLED TWO-PROPORTION Z STATISTIC — z = (p1 − p0) /
    sqrt(p̂(1−p̂)(1/n0+1/n1)) — the test an experiment dashboard renders
    next to the lift.  (The fixture's assignment is post-hoc, so z
    hovers near 0 — the A/A-test shape, itself the standard harness
    sanity check: a large |z| here would flag broken bucketing.)

    Plan/scale: one user-grain aggregate (MAX over a CASE — conversion
    flags fold map-side), one 2-row variant aggregate, and the
    z arithmetic on a broadcast 1-row frame; no joins at event grain.
    At 100 TB this is scan → two-level aggregate, the cheapest shape in
    the book — which is exactly why hash-bucketed experiments scale to
    billions of users.  All counts integer; the rate and z divisions
    are the only floats, identical expression order in both engines."""
    ev = load_table(spark, sf_dir, "events")
    from data_pipeline_cursor_spark.text.dedup import phash

    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select(
        (phash(F.col("user_id").cast("string"), "ab") % 2)
        .cast("int")
        .alias("variant"),
        "converted",
    )
    # the 2-row variant frame feeds the output AND the z-statistic
    # aggregates — without a cut each branch re-runs the corpus scan
    # (3 FileScans observed); checkpointing 2 rows keeps it at one
    v = (
        assign.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
        )
        .localCheckpoint(eager=True)
    )
    stats = v.agg(
        (
            F.sum("n_converted").cast("double") / F.sum("n_users")
        ).alias("p"),
        F.sum(1.0 / F.col("n_users")).alias("inv_n"),
        (
            F.max(
                F.when(
                    F.col("variant") == 1,
                    F.col("n_converted") * 1.0 / F.col("n_users"),
                )
            )
            - F.max(
                F.when(
                    F.col("variant") == 0,
                    F.col("n_converted") * 1.0 / F.col("n_users"),
                )
            )
        ).alias("d"),
    )
    return (
        v.crossJoin(F.broadcast(stats))
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.round(F.col("n_converted") * 1.0 / F.col("n_users"), 4).alias(
                "conv_rate"
            ),
            F.round(
                F.col("d")
                / F.sqrt(
                    F.col("p") * (1 - F.col("p")) * F.col("inv_n")
                ),
                4,
            ).alias("z_stat"),
        )
    )
