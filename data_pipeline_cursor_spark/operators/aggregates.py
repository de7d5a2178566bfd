"""Aggregation family (SURVEY.md §2.B B8/B9/B16, §2.D D9-D14).

Parity anchors: the Flink job's grouped AVG+COUNT
(/root/reference/flink/sql/weather-aggregation.sql:38-49), the README's
agg-of-aggregates over the serving table (/root/reference/README.md:494-497),
and the Trino batch-SQL surface the reference ships
(/root/reference/README.md:454-482).

Scale notes (100 TB): all grouped aggregations here are single-shuffle hash
aggregates with map-side partial aggregation (Spark's HashAggregate emits
partials before the exchange), so shuffle volume is O(groups), not O(rows).
COUNT(DISTINCT) expands to a two-phase agg; approx_count_distinct replaces
it with an HLL sketch (constant state per group) — that's the 100 TB path
for high-cardinality distincts.  ROLLUP/CUBE expand each input row into
its grouping sets BEFORE the shuffle, still one exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_cursor_spark.registry import register
from data_pipeline_cursor_spark.sources import load_table


@register(
    "q_groupby_avg",
    oracle="""
    SELECT event_type,
           ROUND(AVG(value), 4) AS avg_value,
           COUNT(*)             AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped AVG + COUNT(*) (B8) — the batch form of the Flink job
    (/root/reference/flink/sql/weather-aggregation.sql:38-49, batch twin
    /root/reference/README.md:473-476)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_agg_of_agg",
    oracle="""
    WITH per_window AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', ts) AS window_start,
             AVG(value) AS avg_value,
             COUNT(*)   AS record_count
      FROM events
      GROUP BY 1, 2
    )
    SELECT event_type,
           ROUND(AVG(avg_value), 4) AS overall_avg,
           CAST(SUM(record_count) AS BIGINT) AS total_records
    FROM per_window
    GROUP BY event_type
    """,
)
def agg_of_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation (B9). Parity: AVG(avg_temperature),
    SUM(record_count) … GROUP BY city over the pre-aggregated serving table
    (/root/reference/README.md:494-497)."""
    ev = load_table(spark, sf_dir, "events")
    per_window = ev.groupBy(
        "event_type", F.window("ts", "5 minutes").alias("w")
    ).agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("record_count"))
    return per_window.groupBy("event_type").agg(
        F.round(F.avg("avg_value"), 4).alias("overall_avg"),
        F.sum("record_count").alias("total_records"),
    )


@register(
    "q_global_agg",
    oracle="""
    SELECT COUNT(*)              AS n_rows,
           ROUND(AVG(value), 4) AS avg_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events
    """,
)
def global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped running stats (B16). Parity: dashboard header totals
    (/root/reference/visualization-server/public/index.html:432-448)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


@register(
    "q_groupby_multi",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_quantity), 4)                              AS sum_qty,
           ROUND(SUM(l_extendedprice), 4)                         AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)      AS sum_disc_price,
           ROUND(AVG(l_quantity), 4)                              AS avg_qty,
           ROUND(MIN(l_extendedprice), 4)                         AS min_price,
           ROUND(MAX(l_extendedprice), 4)                         AS max_price,
           COUNT(*)                                               AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate GROUP BY (D9) — TPC-H Q1 shape over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q_count_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) (D10) — exact; Catalyst plans the two-phase expand."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


@register("q_approx_distinct")  # approximate → rows-only check (SURVEY §2.D D11)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (D11) — HLL sketch; THE distinct-count at 100 TB
    (constant memory per group vs the exact expand's O(distinct) state)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )


@register(
    "q_agg_filter",
    oracle="""
    SELECT event_type,
           COUNT(*) FILTER (WHERE value > 100)            AS n_high,
           ROUND(COALESCE(SUM(value) FILTER (WHERE value > 100), 0), 4)
                                                          AS sum_high,
           COUNT(*)                                       AS n_total
    FROM events
    GROUP BY event_type
    """,
)
def agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (D12) — FILTER clause ≡ count_if/sum(when)."""
    ev = load_table(spark, sf_dir, "events")
    high = F.col("value") > 100
    return ev.groupBy("event_type").agg(
        F.count_if(high).alias("n_high"),
        F.round(
            F.coalesce(F.sum(F.when(high, F.col("value"))), F.lit(0.0)), 4
        ).alias("sum_high"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "q_having",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) > 5
    """,
)
def having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING (D13) — post-aggregation filter."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") > 5)
    )


@register(
    "q_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (D14) — hierarchical subtotals; NULL marks the rolled level."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


@register(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (D14) — all grouping-set combinations."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (D14) — explicit set list via SQL (the DataFrame API
    exposes only rollup/cube; SQL is the idiomatic Spark route)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )

@register(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (D14 family) — orders count per priority × status.

    The value list is passed EXPLICITLY: without it Spark runs an extra
    distinct-collect job over the pivot column before planning — a full
    scan + driver materialization a 100 TB run can't afford.  With the
    list, this is one hash aggregate on composite keys, same cost as the
    equivalent CASE-WHEN conditional aggregation."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
            F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
            F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
        )
    )


@register(
    "q_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Trino surface: quantile fns).

    `median`/`percentile` are exact: per-group sorted state — fine for
    bounded groups.  The 100 TB path for high-cardinality/unbounded groups
    is `approx_percentile` (t-digest sketch, constant state per group);
    same call shape, swap when group payload outgrows memory."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
    )


@register(
    "q_stats_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 2) AS sd_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(AVG(l_discount), 4) AS avg_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (Trino surface: stddev/corr).

    Single-pass streaming moments (Welford-style partial states) — one
    shuffle of O(groups) constant-size states, 100 TB safe.  Outputs are
    pre-rounded (stddev to 2, corr to 4): the partial-state merge order
    differs between engines, so the last few float ulps are not portable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 2).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )


@register(
    "q_skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity) / COUNT(*), 4) AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (PLANS.md skew recipe, runnable).

    l_returnflag has 3 values over the whole fact table — the textbook
    skewed groupBy where 3 reducers own everything.  Phase 1 salts the key
    with pmod(hash(l_orderkey), 16) and partially aggregates on
    (key, salt): 48 uniform cells.  Phase 2 merges cells per key.  The avg
    is sum/count over the merged cells — NEVER avg-of-avgs.  Both shuffles
    move O(keys×S) rows; identical result to the direct groupBy (the
    oracle), which is the point: salting changes the schedule, not the
    answer.  (At this SF the direct plan is fine; the recipe is what you
    reach for when one key owns a reducer at 100 TB.)"""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.hash("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_quantity").alias("qty"),
        F.count(F.lit(1)).alias("n"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(F.sum("qty"), 2).alias("sum_qty"),
        F.sum("n").alias("n_items"),
        F.round(F.sum("qty") / F.sum("n"), 4).alias("avg_qty"),
    )


@register(
    "q_winsorize",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           ROUND(AVG(least(greatest(l.l_extendedprice, b.lo), b.hi)), 4)
             AS avg_winsor,
           CAST(COUNT(*) FILTER (WHERE l.l_extendedprice < b.lo
                                    OR l.l_extendedprice > b.hi) AS BIGINT)
             AS n_clipped,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY 1
    """,
)
def winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (robust-stats surface): clip each group's values at
    its own exact p05/p95 before averaging — the outlier-insensitive
    aggregate quality pipelines use on heavy-tailed metrics (doc lengths,
    prices) where a raw AVG follows the tail.

    Two aggregations over one relation: the per-group bounds (O(groups)
    rows) BROADCAST back onto the fact scan, so the fact table shuffles
    once for the final aggregate and never for the bounds join.  The
    bounds themselves are exact interpolated percentiles — bit-identical
    cross-engine on identical input doubles — so the clip decisions, and
    hence n_clipped, are integers both engines agree on exactly.

    INTERNAL bounds computation (round-14, VERDICT item 6): unlike
    q_percentile/q_median — where the `F.percentile` exact-aggregate
    operator IS the demonstrated surface — the percentiles here are an
    implementation step, so they run as a distributed window-rank pass
    (`_exact_percentile_bounds`: sort within group, pick the floor/ceil
    ranks, replicate the Percentile expression's interpolation to the
    bit) instead of the single-reducer per-group sorted-counts-map
    aggregate.  Measured 2.04 → ~1.4 s at sf0.1 with a hash-identical
    result; at 100 TB the sort spills gracefully where the per-group
    OpenHashMap state cannot."""
    li = load_table(spark, sf_dir, "lineitem")
    b = _exact_percentile_bounds(li, "l_returnflag", "l_extendedprice", 0.05, 0.95)
    j = li.join(F.broadcast(b), "l_returnflag")
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
    )
    outlier = (F.col("l_extendedprice") < F.col("lo")) | (
        F.col("l_extendedprice") > F.col("hi")
    )
    return j.groupBy("l_returnflag").agg(
        F.round(F.avg(clipped), 4).alias("avg_winsor"),
        F.count_if(outlier).alias("n_clipped"),
        F.count(F.lit(1)).alias("n"),
    )


def _exact_percentile_bounds(
    df: DataFrame, group_col: str, val_col: str, p_lo: float, p_hi: float
) -> DataFrame:
    """(group, lo, hi): exact interpolated percentiles p_lo/p_hi of
    ``val_col`` per group, computed with a distributed window-rank pass
    instead of the `Percentile` aggregate (whose per-group state is a
    sorted counts map built in one reducer — all of lineitem's 583k
    distinct prices per group at sf0.1, unspillable at scale).

    Bit-exact replication of Catalyst's Percentile.getPercentile: with n
    non-null values sorted ascending and 0-based index i,
    ``position = (n-1) * p`` in double arithmetic; the result is the
    value at ``floor(position)`` when the position is whole OR both
    bracketing values are equal, else the linear interpolation
    ``(ceil(pos) - pos) * v_floor + (pos - floor(pos)) * v_ceil`` —
    term order and cast points match the Scala source, so the produced
    double is the same bits the aggregate yields (the clip comparisons
    downstream are exact equality-sensitive).  NULL values are excluded
    before ranking, as the aggregate excludes them.

    Assumes ``val_col`` is double-typed (q_winsorize's l_extendedprice).
    Other numeric types are cast to double before ranking, and the tie
    branch then compares the cast values where the aggregate compares
    original keys: two distinct long or decimal keys that collide as
    doubles (beyond 2^53) may differ from the aggregate by one ulp."""
    from pyspark.sql.window import Window

    # cast to double up front — the aggregate sorts original keys and
    # converts via toDoubleValue at the end; double conversion is
    # monotone, so ranking the converted values yields the same bits
    vals = df.select(
        group_col, F.col(val_col).cast("double").alias(val_col)
    ).filter(F.col(val_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(val_col)
    wg = Window.partitionBy(group_col)
    ranked = vals.select(
        group_col,
        val_col,
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(wg).alias("n"),
    )

    def pos(p: float):
        return (F.col("n") - 1).cast("double") * F.lit(p)

    def picks(p: float, tag: str):
        pp = pos(p)
        v = F.col(val_col)
        return [
            F.max(F.when(F.col("i") == F.floor(pp), v)).alias(f"vlo_{tag}"),
            F.max(F.when(F.col("i") == F.ceil(pp), v)).alias(f"vhi_{tag}"),
            F.max(pp).alias(f"pos_{tag}"),
        ]

    cand = ranked.filter(
        (F.col("i") == F.floor(pos(p_lo)))
        | (F.col("i") == F.ceil(pos(p_lo)))
        | (F.col("i") == F.floor(pos(p_hi)))
        | (F.col("i") == F.ceil(pos(p_hi)))
    )
    agg = cand.groupBy(group_col).agg(*picks(p_lo, "lo"), *picks(p_hi, "hi"))

    def interp(tag: str):
        pp = F.col(f"pos_{tag}")
        vlo, vhi = F.col(f"vlo_{tag}"), F.col(f"vhi_{tag}")
        return F.when(
            (F.ceil(pp) == F.floor(pp)) | (vlo == vhi), vlo
        ).otherwise(
            (F.ceil(pp).cast("double") - pp) * vlo
            + (pp - F.floor(pp).cast("double")) * vhi
        )

    return agg.select(
        group_col, interp("lo").alias("lo"), interp("hi").alias("hi")
    )


@register("q_approx_percentile")  # sketch → rows-only check (like D11's HLL)
def approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (the 100 TB percentile path q_percentile's
    docstring routes to): KLL/GK-style sketch with bounded per-group
    state, vs the exact percentile's per-group sorted payload.  Sketch
    internals are engine-specific → rows-only driver check, bounded by
    test_approx_percentile_within_accuracy_of_exact the same way the HLL
    count is."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(1000)
        ).alias("approx_median"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.9), F.lit(1000)
        ).alias("approx_p90"),
    )


@register(
    "q_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/grouping_id over ROLLUP (D14's disambiguator): the bit
    vector that tells a subtotal row's NULL apart from a data NULL — the
    only correct way to consume rollup output when grouping columns are
    nullable (q_rollup alone cannot make that distinction).  Emitted as
    the standard gid = Σ grouping(col)·2^i."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        (
            F.grouping("o_orderstatus").cast("long") * 2
            + F.grouping("o_orderpriority").cast("long")
        ).alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q_median",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_quantity), 4)      AS med_qty,
           ROUND(median(l_extendedprice), 4) AS med_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def median_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN (D14b's exact-midpoint sibling): even-count groups return the
    mean of the two middle values in both engines — deterministic, unlike
    MODE whose tie-break is engine-specific (deliberately not registered).
    Same 100 TB note as q_percentile: exact medians sort per-group payloads;
    the sketch path is q_approx_percentile."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 4).alias("med_qty"),
            F.round(F.median("l_extendedprice"), 4).alias("med_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_regr_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_extendedprice, l_quantity), 4)           AS r,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def regr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (D14b family): corr / regr_slope /
    regr_intercept / regr_count of price on quantity per flag.  Both engines
    use numerically-stable covariance updates; results agree well inside
    ROUND 4 (quantity spans only [1,50] so no catastrophic cancellation)."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr(y, x), 4).alias("r"),
            F.round(F.regr_slope(y, x), 4).alias("slope"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.regr_count(y, x).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_bool_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE value > 100) AS BIGINT) AS n_high,
           bool_and(value > 0)   AS all_positive,
           bool_or(value > 190)  AS any_extreme
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_and / bool_or (D12's boolean-algebra siblings) —
    predicate aggregates fold map-side like any sum; the oracle spells
    count_if as the portable COUNT(*) FILTER."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 100).alias("n_high"),
            F.bool_and(F.col("value") > 0).alias("all_positive"),
            F.bool_or(F.col("value") > 190).alias("any_extreme"),
        )
        .orderBy("event_type")
    )


@register(
    "q_arg_minmax",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderkey, o_orderdate || '|' || lpad(CAST(o_orderkey AS VARCHAR), 20, '0'))
             AS latest_orderkey,
           min_by(o_orderkey, o_orderdate || '|' || lpad(CAST(o_orderkey AS VARCHAR), 20, '0'))
             AS earliest_orderkey
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def arg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax aggregates, B15's single-pass form): the
    latest/earliest order per priority WITHOUT a window sort — one partial
    agg carrying (key, orderby) pairs.  Ordering key is made total by
    appending the zero-padded orderkey: max_by on a tied key is
    engine-arbitrary, the classic silent-nondeterminism trap."""
    o = load_table(spark, sf_dir, "orders")
    tot = F.concat_ws(
        "|",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.lpad(F.col("o_orderkey").cast("string"), 20, "0"),
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", tot).alias("latest_orderkey"),
            F.min_by("o_orderkey", tot).alias("earliest_orderkey"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_bit_agg",
    oracle="""
    SELECT event_type,
           bit_and(event_id) AS band,
           bit_or(event_id)  AS bor,
           bit_xor(event_id) AS bxor
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def bit_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and / bit_or / bit_xor aggregates (D28's aggregate form) —
    bitwise folds are associative+commutative, so they combine map-side
    with no ordering hazard at any parallelism."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("event_id").alias("band"),
            F.bit_or("event_id").alias("bor"),
            F.bit_xor("event_id").alias("bxor"),
        )
        .orderBy("event_type")
    )


@register(
    "q_mode_agg",
    oracle="""
    SELECT event_type, modal_hour, n_at_mode FROM (
      SELECT event_type, h AS modal_hour, n AS n_at_mode,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, h ASC) AS rn
      FROM (
        SELECT event_type, EXTRACT(hour FROM ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
      )
    ) WHERE rn = 1
    ORDER BY event_type
    """,
)
def mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE (most frequent value) per group — here each event type's
    busiest hour of day.  Engines' built-in mode() leaves ties
    implementation-defined, so this computes it as count + ranking window
    under the TOTAL order (n DESC, hour ASC) — deterministic and
    hash-checkable, the same argmax-totalization rule as q_arg_minmax.

    Plan: one partial-agg shuffle on (type, hour) — ≤ |types|·24 rows —
    then a window over those few rows.  100 TB: identical; the candidate
    table after the first aggregate is tiny regardless of corpus size."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("h"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("h").alias("modal_hour"),
            F.col("n").alias("n_at_mode"),
        )
        .orderBy("event_type")
    )


@register(
    "q_table_checksum",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(('0x' || substr(md5(
             'ck:' || l_orderkey || '|' || l_linenumber || '|' || l_partkey
                   || '|' || l_suppkey || '|' || CAST(round(l_quantity * 100, 0)
                                                      AS BIGINT)
                   || '|' || l_returnflag || '|' || l_linestatus
           ), 1, 15))::BIGINT) AS checksum
    FROM lineitem
    """,
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INSENSITIVE TABLE CHECKSUM — the replica-comparison /
    migration-validation primitive: render each row canonically (integer
    and categorical columns; floats as exact cents), hash with the
    portable 60-bit md5, and fold with bit_xor — commutative,
    associative, and partial-aggregating, so two engines (or two
    replicas, or pre/post-migration copies) agree iff the row SETS agree,
    at any parallelism, without sorting anything.

    This is how you check a 100 TB copy without a 100 TB sort-merge:
    one scan, map-side partial XOR, a single 8-byte result.  (XOR's
    blind spot — duplicate rows cancelling in pairs — is closed by the
    row count beside it; a seeded second fold closes it entirely.)"""
    from data_pipeline_cursor_spark.sources.tables import fan_out_small_scan
    from data_pipeline_cursor_spark.text.dedup import phash

    # the md5 render is the whole cost (1.7 of 1.85 s at sf0.1, round-13
    # probe) and the fixture is one row group → one scan task; fan the
    # render out when — and only when — the input can't fill the cores
    # itself (no-op on production-layout tables, see the helper)
    li = fan_out_small_scan(
        load_table(spark, sf_dir, "lineitem"), sf_dir, "lineitem"
    )
    rendered = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.round(F.col("l_quantity") * 100, 0).cast("bigint").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(phash(rendered, "ck")).alias("checksum"),
    )


@register(
    "q_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT event_type, h, o,
             CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
             CAST(SUM(o) OVER (PARTITION BY h) AS BIGINT)          AS ct,
             CAST(SUM(o) OVER () AS BIGINT)                        AS n
      FROM cells
    )
    SELECT CAST(ROUND(CAST(SUM(
             (o - rt * ct / CAST(n AS DOUBLE))
             * (o - rt * ct / CAST(n AS DOUBLE))
             / (rt * ct / CAST(n AS DOUBLE))
           ) AS DECIMAL(28,10)), 4) AS DOUBLE) AS chi2,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT h) - 1) AS BIGINT) AS dof,
           CAST(MAX(n) AS BIGINT) AS n
    FROM margins
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE test of independence (event_type × hour-of-day) — the
    statistical sibling of q_drift_kl: is the hourly profile the same
    for every event type, or does some type cluster in specific hours?
    Emits the χ² statistic with its degrees of freedom — the pipeline
    health check behind "did our traffic mix change shape".

    Observed counts are exact integers; expected counts rt·ct/n are one
    double expression per cell (identical in both engines); the
    ≤|types|·24-cell fold is snapped by stable_round4.  Plan: one
    partial-agg shuffle to the cell table, then three window margins
    over ≤120 rows — never a second corpus scan."""
    from pyspark.sql.window import Window

    from data_pipeline_cursor_spark.functions.math_ops import stable_round4

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("o"))
    margins = cells.select(
        "event_type",
        "h",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("h")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("rt") * F.col("ct") / F.col("n").cast("double")
    return margins.agg(
        stable_round4(F.sum((F.col("o") - e) * (F.col("o") - e) / e)).alias(
            "chi2"
        ),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("h") - 1)
        ).cast("long").alias("dof"),
        F.max("n").alias("n"),
    )


@register(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, m.med,
             median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type, m.med
    )
    SELECT m.event_type,
           ROUND(m.med, 4) AS med,
           ROUND(m.mad, 4) AS mad,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events e JOIN mad m USING (event_type)
    GROUP BY m.event_type, m.med, m.mad
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier counts via Median Absolute Deviation — the
    heavy-tail-safe sibling of q_anomaly_zscore (whose mean/σ a single
    spike can drag): per event type, the median, the MAD, and how many
    observations sit beyond 3·MAD.

    Exact medians are deterministic in both engines (q_median's
    even-count midpoint rule); |x−med| and the 3·MAD comparison are
    single double expressions per row.  Plan: three passes over the
    typed fact (median → MAD → count), each one partial-agg shuffle on
    event_type with the tiny per-type stats broadcast back — the
    irreducible cost of exact nested medians.  100 TB: swap exact
    medians for approx_percentile and the three passes collapse to one
    (q_approx_percentile's sketch path)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            "event_type",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n_outliers",
            "n_total",
        )
    )
