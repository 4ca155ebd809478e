"""Event-stream family: tumbling / sliding / session windows,
interval joins, funnels, cohorts, attribution, change-point and
anomaly detection, forecasting backtests and A/B statistics over the
``events`` table (the streaming.windows operators and the queries
whose first table is ``events``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec_sum, sql_sum
from ..operators.ranking import global_row_number, global_running_offset
from ..queries import register
from ..session import load_table
from ..streaming import windows


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


# ----------------------------------------------------------------------
# Event-time windows (batch twins of the streaming jobs)
# ----------------------------------------------------------------------

@register(
    "events_tumbling",
    """
    SELECT strftime(to_timestamp(floor(epoch(ts) / 3600) * 3600)::TIMESTAMP,
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           (CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.tumbling(_events(spark, sf_dir), minutes=60)


@register(
    "events_sliding",
    """
    WITH e AS (
      SELECT value, to_timestamp(floor(epoch(ts) / 1800) * 1800)::TIMESTAMP AS base FROM events
    ),
    x AS (
      SELECT value, base - to_seconds(off) AS ws
      FROM e, UNNEST([0, 1800]) AS t(off)
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events,
           (CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value
    FROM x GROUP BY 1
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.sliding(_events(spark, sf_dir), length_min=60, slide_min=30)


@register(
    "events_session",
    """
    WITH lagged AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
                     THEN 1 ELSE 0 END AS new_sess
      FROM lagged
    ),
    ids AS (
      SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           (CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value
    FROM ids GROUP BY user_id, session_id
    """,
)
def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.sessionize(_events(spark, sf_dir), gap_minutes=30)


@register(
    "events_json_props",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
           max(CAST(props->>'$.k' AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.json_props_agg(_events(spark, sf_dir))


@register(
    "events_interval_join",
    """
    SELECT a.user_id AS user_id, a.event_id AS left_id, b.event_id AS right_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (jobs.
    interval_join_stream): click→purchase pairs within 30 minutes."""
    return windows.interval_pairs(_events(spark, sf_dir), "click", "purchase", 30)


@register(
    "events_rollup_reuse",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS b, count(*) AS n,
             sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS s
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT date_trunc('day', b) AS b, sum(n) AS n, sum(s) AS s
      FROM hourly GROUP BY 1
    ),
    monthly AS (
      SELECT date_trunc('month', b) AS b, sum(n) AS n, sum(s) AS s
      FROM daily GROUP BY 1
    )
    SELECT grain, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           CAST(n AS BIGINT) AS n,
           round(CAST(s AS DOUBLE) / 1000000.0, 2) AS total,
           round(CAST(s AS DOUBLE) / 1000000.0 / n, 4) AS avg_value
    FROM (
      SELECT 'hour' AS grain, * FROM hourly
      UNION ALL SELECT 'day', * FROM daily
      UNION ALL SELECT 'month', * FROM monthly
    )
    """,
)
def events_rollup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour→day→month rollup with partial-aggregate reuse
    (streaming/windows.py:rollup_reuse)."""
    return windows.rollup_reuse(_events(spark, sf_dir))


@register(
    "events_interval_join_left",
    """
    SELECT a.user_id AS user_id, a.event_id AS left_id, b.event_id AS right_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 30 MINUTE
    """,
)
def events_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer interval join: every click, with its purchase within
    30 minutes or NULL — the conversion-funnel shape."""
    return windows.interval_pairs(_events(spark, sf_dir), "click", "purchase", 30, how="left")


@register(
    "events_dedup",
    f"""
    SELECT count(*) AS n_events,
           {sql_sum("value")} AS sum_value
    FROM events
    """,
)
def events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/jobs.dedup_stream (at-least-once
    delivery hygiene): the events table unioned with itself — every
    event delivered twice — must dedup back to exactly the source
    totals. dropDuplicates on the event key is one hash shuffle keyed
    by event_id (uniform), the canonical scale shape."""
    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    delivered_twice = e.unionByName(e)
    dd = delivered_twice.dropDuplicates(["event_id"])
    return dd.agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value").alias("sum_value"),
    )


@register(
    "events_trailing_hour",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS qv,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events
    )
    SELECT event_id, user_id,
           count(*) OVER w AS n_trailing,
           (CAST(sum(qv) OVER w AS DOUBLE) / 100.0) AS sum_trailing
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def events_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour activity per event via a RANGE window frame (value
    range, not row count — events in the same second all see each
    other, which a ROWS frame would get wrong). One shuffle keyed by
    user; the trailing sum aggregates pre-quantized integers so the
    frame math is exact on both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("qv"),
        F.unix_timestamp("ts").alias("ts_s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        (F.sum("qv").over(w).cast("double") / 100.0).alias("sum_trailing"),
    )


@register(
    "session_duration_stats",
    """
    WITH lagged AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      -- floor each endpoint BEFORE differencing: the engine gap test
      -- diffs second-truncated unix_timestamp values, and a fractional
      -- gap straddling 1800 s must sessionize identically on both sides
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
                     THEN 1 ELSE 0 END AS new_sess
      FROM lagged
    ),
    ids AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_id, count(*) AS n_events,
             -- floor each endpoint to whole seconds BEFORE differencing:
             -- the engine side derives durations from second-formatted
             -- session bounds, which truncates per endpoint
             CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
               AS duration_s
      FROM ids GROUP BY user_id, session_id
    )
    SELECT count(*) AS n_sessions,
           count(*) FILTER (WHERE n_events = 1) AS n_singletons,
           round(CAST(sum(duration_s) AS DOUBLE) / count(*), 4) AS avg_duration_s,
           max(duration_s) AS max_duration_s,
           round(CAST(sum(n_events) AS DOUBLE) / count(*), 4) AS avg_events
    FROM sessions
    """,
)
def session_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length distribution over the sessionized stream
    (streaming/windows.sessionize): counts, singleton share, and
    integer-exact average/max durations — the engagement metrics a
    session store derives. Durations are integer seconds, so every
    aggregate is order-independent."""
    from ..streaming import windows as W

    s = W.sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)
    dur = (
        F.unix_timestamp("session_end") - F.unix_timestamp("session_start")
    ).cast("bigint")
    per = s.select(dur.alias("duration_s"), "n_events")
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_singletons"),
        F.round(F.sum("duration_s").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_duration_s"
        ),
        F.max("duration_s").alias("max_duration_s"),
        F.round(F.sum("n_events").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_events"
        ),
    )


@register(
    "events_funnel",
    """
    WITH u AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view')     AS t_view,
             min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t_view) AS n_view,
           count(*) FILTER (WHERE t_view < t_click) AS n_view_click,
           count(*) FILTER (WHERE t_view < t_click AND t_click < t_purchase)
             AS n_view_click_purchase
    FROM u
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view → click → purchase by first
    occurrence per user): one groupBy with conditional min aggregates —
    no self-joins, no windows, one shuffle keyed by user. NULL
    first-occurrence times fail the < comparisons, so drop-offs fall
    out of the boolean algebra for free."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts"))).alias(f"t_{t}")

    u = e.groupBy("user_id").agg(first_ts("view"), first_ts("click"), first_ts("purchase"))
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_view") < F.col("t_click"), 1)).alias("n_view_click"),
        F.count(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            )
        ).alias("n_view_click_purchase"),
    )


@register(
    "cohort_retention",
    """
    WITH first_day AS (
      SELECT user_id, date_trunc('day', min(ts)) AS cohort_day FROM events
      GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM events
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           CAST(date_diff('day', cohort_day, active_day) AS BIGINT) AS day_offset,
           count(*) AS n_active
    FROM first_day JOIN activity USING (user_id)
    WHERE date_diff('day', cohort_day, active_day) <= 7
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, active
    user counts per day offset (first week). Two aggregations plus one
    user-keyed join — the cohort frame is |users|-sized and co-keyed
    with the activity frame, so the join shuffles on user_id only."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    first_day = e.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    activity = e.select("user_id", day.alias("active_day")).distinct()
    j = first_day.join(activity, "user_id")
    off = F.datediff(F.col("active_day"), F.col("cohort_day")).cast("bigint")
    return (
        j.select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            off.alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort", "day_offset")
    )


@register(
    "events_anomaly_zscore",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS q
      FROM hourly GROUP BY 1
    )
    SELECT hourly.event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           c AS n_events,
           round((c - CAST(s AS DOUBLE) / n)
                 / sqrt((n * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s)
                        / (CAST(n AS DOUBLE) * (n - 1))), 4) AS z
    FROM hourly JOIN stats ON hourly.event_type = stats.event_type
    WHERE n > 1
      AND abs((c - CAST(s AS DOUBLE) / n)
              / sqrt((n * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s)
                     / (CAST(n AS DOUBLE) * (n - 1)))) > 2
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours whose event count sits >2
    sample-standard-deviations from the per-type mean. Moments are
    exact integer sums (S, Q) aggregated map-side; mean/variance/z are
    the SAME double expressions on both engines, so the |z|>2 cut is
    bit-deterministic. The per-type stats (≤ #types rows) broadcast
    back onto the hourly frame — two aggregates and a broadcast join,
    no window, at any scale."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("n") * F.col("q").cast("double") - F.col("s").cast("double") * F.col("s")
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    z = (F.col("c") - mean) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("n") > 1) & (F.abs(z) > 2))
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("c").alias("n_events"),
            F.round(z, 4).alias("z"),
        )
    )


@register(
    "events_enriched_heavy_users",
    f"""
    WITH user_stats AS (
      SELECT user_id, count(*) AS n_ev FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN us.n_ev >= 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS heavy_user_events,
           {sql_sum("CASE WHEN us.n_ev >= 50 THEN e.value ELSE 0 END")}
             AS heavy_user_value
    FROM events e JOIN user_stats us ON e.user_id = us.user_id
    GROUP BY e.event_type
    """,
)
def events_enriched_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join
    (streaming/jobs.enrich_stream): every event looks up its user's
    profile (here: lifetime event count) and the per-type aggregate
    splits out heavy-user traffic. The profile dimension broadcasts;
    the only shuffles are the profile aggregate and the ≤5-group
    rollup."""
    e = load_table(spark, sf_dir, "events")
    us = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    heavy = F.col("n_ev") >= 50
    return (
        e.join(F.broadcast(us), "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(heavy, 1).otherwise(0)).alias("heavy_user_events"),
            dec_sum(F.when(heavy, F.col("value")).otherwise(0.0)).alias("heavy_user_value"),
        )
    )


# ----------------------------------------------------------------------
# Sequence mining: Markov transition matrix over per-user event streams
# ----------------------------------------------------------------------

@register(
    "event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
      SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total FROM trans GROUP BY 1
    )
    SELECT t.prev_type, t.next_type, t.n,
           round(CAST(t.n AS DOUBLE) / row_total, 6) AS p
    FROM trans t JOIN tot USING (prev_type)
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov next-event transition matrix: P(next | prev) from each
    user's time-ordered stream (tie-broken by event_id, so the order —
    and hence lag() — is total and deterministic).

    Scale: the lag window partitions by user_id — millions of small
    independent partitions, no global window. The transition counts
    collapse to |types|^2 rows; the row totals come from a window SUM
    over that tiny frame (round 11, guide §1.2): the aggregate+join
    form re-executed the whole events scan → lag window → count
    pipeline a second time just to build the |types|-row totals."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wt).cast("bigint"), 6
        ).alias("p"),
    )


# ----------------------------------------------------------------------
# MDM survivorship: latest-wins golden record per entity
# ----------------------------------------------------------------------

@register(
    "golden_record_users",
    f"""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    stats AS (
      SELECT user_id, count(*) AS n_events,
             {sql_sum('value')} AS lifetime_value,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen
      FROM events GROUP BY user_id
    )
    SELECT r.user_id, r.event_type AS last_event_type, r.value AS last_value,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           s.n_events, s.lifetime_value, s.first_seen
    FROM ranked r JOIN stats s USING (user_id) WHERE rn = 1
    """,
)
def golden_record_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship (golden-record) consolidation: one row per user
    carrying the LATEST observed attributes (latest-wins policy with a
    total (ts, event_id) order) plus lifetime aggregates.

    Scale: both the ranking window and the aggregate partition by the
    entity key — per-entity work only, shuffle on user_id reused by
    both branches; the final join co-partitions on the same key."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )
    stats = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value").alias("lifetime_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
    )
    return latest.join(stats, "user_id")


# ----------------------------------------------------------------------
# Grouped closed-form OLS: value trend per event type
# ----------------------------------------------------------------------

@register(
    "ols_trend_by_type",
    """
    WITH m AS (SELECT CAST(min(floor(epoch(ts))) AS BIGINT) AS min_s FROM events),
    xy AS (
      SELECT event_type,
             CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) - min_s) / 3600) AS BIGINT) AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events, m
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
      FROM xy GROUP BY event_type
    )
    SELECT event_type, n,
           round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
                 / 100.0, 6) + 0.0 AS slope_per_hour,
           round(CAST(sy AS DOUBLE) / 100.0 / n
                 - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
                   / 100.0 * (CAST(sx AS DOUBLE) / n), 4) + 0.0 AS intercept
    FROM s
    """,
)
def ols_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend line (is `value` drifting over the
    month, per event type?) from the closed form — five exact integer
    co-moments (n, Sx, Sy, Sxy, Sxx) in centi-value units and hour
    offsets, then slope/intercept as the SAME double expression on both
    engines. No window, no iteration: one map-side-combined aggregate,
    so the shuffle carries |types| rows at any scale. The 1-row global
    min timestamp broadcasts."""
    e = load_table(spark, sf_dir, "events")
    min_s = e.agg(F.min(F.unix_timestamp("ts")).alias("min_s"))
    x = F.floor(
        (F.unix_timestamp("ts") - F.col("min_s")) / F.lit(3600)
    ).cast("bigint")
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    s = (
        e.crossJoin(F.broadcast(min_s))
        .select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den / F.lit(100.0)
    mean_y = F.col("sy").cast("double") / F.lit(100.0) / F.col("n")
    mean_x = F.col("sx").cast("double") / F.col("n")
    return s.select(
        "event_type",
        "n",
        # +0.0 maps a rounded -0.0 to 0.0 on both engines (Spark's
        # BigDecimal round already loses the sign; DuckDB's keeps it)
        (F.round(slope, 6) + F.lit(0.0)).alias("slope_per_hour"),
        (F.round(mean_y - slope * mean_x, 4) + F.lit(0.0)).alias("intercept"),
    )


# ----------------------------------------------------------------------
# Statistical testing: chi-square independence contingency table
# ----------------------------------------------------------------------

@register(
    "chi2_type_value",
    """
    WITH cells AS (
      SELECT event_type,
             CASE WHEN value < 100 THEN 'low'
                  WHEN value < 300 THEN 'mid' ELSE 'high' END AS bucket,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    ct AS (SELECT bucket, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
    SELECT cells.event_type, cells.bucket, o,
           round(CAST(r AS DOUBLE) * c / n, 3) AS expected,
           round(CAST(o*n - r*c AS DOUBLE) * CAST(o*n - r*c AS DOUBLE)
                 / (CAST(n AS DOUBLE) * r * c), 6) AS chi2_term
    FROM cells JOIN rt USING (event_type) JOIN ct USING (bucket), tot
    """,
)
def chi2_type_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test cells: is event value magnitude
    (low/mid/high) independent of event type? Observed counts are
    exact; expected counts and per-cell chi2 contributions use the
    identical integer-derived double expression on both engines
    ((o*n - r*c)^2 / (n*r*c) — exact bigint inside the casts), so every
    cell is bit-deterministic. One aggregate over the fact table; row
    totals, column totals, and the grand total all derive from the
    |types| x |buckets| cell frame (tiny), then broadcast back."""
    e = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 100, "low")
        .when(F.col("value") < 300, "mid")
        .otherwise("high")
    )
    cells = e.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("o")
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("bucket").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    d = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    chi2_term = (
        d.cast("double") * d.cast("double")
        / (F.col("n").cast("double") * F.col("r") * F.col("c"))
    )
    return (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "bucket",
            "o",
            F.round(F.col("r").cast("double") * F.col("c") / F.col("n"), 3).alias(
                "expected"
            ),
            F.round(chi2_term, 6).alias("chi2_term"),
        )
    )


# ----------------------------------------------------------------------
# Gap imputation: linear interpolation over a regular time grid
# ----------------------------------------------------------------------

@register(
    "events_interpolate",
    """
    WITH obs AS (
      SELECT event_type,
             CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 900) AS BIGINT) AS b,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    vq AS (
      SELECT event_type, b,
             CAST(floor(CAST(s AS DOUBLE) / cnt + 0.5) AS BIGINT) AS v
      FROM obs
    ),
    rng AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM vq GROUP BY 1),
    grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS b FROM rng),
    joined AS (
      SELECT grid.event_type, grid.b, vq.v FROM grid
      LEFT JOIN vq ON grid.event_type = vq.event_type AND grid.b = vq.b
    ),
    ctx AS (
      SELECT event_type, b, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nm
      FROM joined
    )
    SELECT event_type, b AS bucket, v IS NOT NULL AS is_observed,
           CAST(floor(CASE
             WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               CAST(pv AS DOUBLE)
               + CAST(nv - pv AS DOUBLE) * (b - pm) / (nm - pm)
             WHEN pv IS NOT NULL THEN CAST(pv AS DOUBLE)
             ELSE CAST(nv AS DOUBLE)
           END + 0.5) AS BIGINT) / 1000000.0 AS avg_value
    FROM ctx
    """,
)
def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill on a regular 15-minute grid (the
    imputation sibling of events_resample_fill's zero-fill/LOCF): empty
    buckets take the line between the nearest observed neighbors;
    leading/trailing gaps extend the nearest endpoint. Bucket means are
    exact micro-unit integers, so the interpolation inputs — and the
    single double expression both engines evaluate — are identical.

    Scale: the grid explodes per event_type between ITS min/max bucket
    (no global grid), and all four neighbor lookups ride one
    (event_type, b)-sorted window partition pair."""
    e = load_table(spark, sf_dir, "events")
    b = F.floor(F.unix_timestamp("ts") / F.lit(900)).cast("bigint")
    yq = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    obs = e.groupBy("event_type", b.alias("b")).agg(
        F.sum(yq).alias("s"), F.count(F.lit(1)).alias("cnt")
    )
    vq = obs.select(
        "event_type",
        "b",
        F.floor(F.col("s").cast("double") / F.col("cnt") + F.lit(0.5))
        .cast("bigint")
        .alias("v"),
    )
    grid = (
        vq.groupBy("event_type")
        .agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("b"),
        )
    )
    joined = grid.join(vq, ["event_type", "b"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    marker = F.when(F.col("v").isNotNull(), F.col("b"))
    ctx = joined.select(
        "event_type",
        "b",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(marker, ignorenulls=True).over(wp).alias("pm"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(marker, ignorenulls=True).over(wn).alias("nm"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv").cast("double")
            + (F.col("nv") - F.col("pv")).cast("double")
            * (F.col("b") - F.col("pm"))
            / (F.col("nm") - F.col("pm")),
        )
        .when(F.col("pv").isNotNull(), F.col("pv").cast("double"))
        .otherwise(F.col("nv").cast("double"))
    )
    # floor-to-integer-micro-units, then ONE exact division: `round()`
    # on the raw double disagrees between engines at half-even
    # boundaries (see functions/exact.py) — floor(x + 0.5) does not.
    micro = F.floor(interp + F.lit(0.5)).cast("bigint")
    return ctx.select(
        "event_type",
        F.col("b").alias("bucket"),
        F.col("v").isNotNull().alias("is_observed"),
        (micro / F.lit(1000000.0)).alias("avg_value"),
    )


# ----------------------------------------------------------------------
# Engagement: DAU / rolling-7-day WAU / stickiness
# ----------------------------------------------------------------------

@register(
    "dau_wau_stickiness",
    """
    WITH user_day AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM user_day),
    wau AS (
      SELECT user_day.d + g.k AS t, count(DISTINCT user_id) AS wau
      FROM user_day, UNNEST(generate_series(0, 6)) AS g(k), bounds b
      WHERE user_day.d + g.k BETWEEN b.lo AND b.hi
      GROUP BY 1
    ),
    dau AS (SELECT d AS t, count(*) AS dau FROM user_day GROUP BY d)
    SELECT dau.t AS day_num, dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.t = wau.t
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, rolling 7-day active users (WAU ending each
    day), and the DAU/WAU stickiness ratio.

    Scale: the fact table first collapses to DISTINCT (user, day) —
    the only heavy shuffle, map-side combinable. Each user-day then
    fans out to at most 7 window-end days (a 7x explode of the REDUCED
    frame, not the facts) and the per-day COUNT(DISTINCT) runs on
    (day, user) pairs. No window function at all, so nothing needs a
    global sort."""
    e = load_table(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    user_day = e.select("user_id", d.alias("d")).distinct()
    bounds = user_day.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    fan = (
        user_day.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("t"),
            "lo",
            "hi",
        )
        .filter((F.col("t") >= F.col("lo")) & (F.col("t") <= F.col("hi")))
    )
    wau = fan.groupBy("t").agg(F.countDistinct("user_id").alias("wau"))
    dau = user_day.groupBy(F.col("d").alias("t")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    return dau.join(wau, "t").select(
        F.col("t").alias("day_num"),
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


# ----------------------------------------------------------------------
# Change detection: tabular CUSUM over hourly means
# ----------------------------------------------------------------------

@register(
    "cusum_changepoints",
    """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) AS BIGINT) AS h,
             CAST(floor(CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                             AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(v * v) AS BIGINT) AS q
      FROM hourly GROUP BY 1
    ),
    dev AS (
      SELECT hourly.event_type, h, v, n, s, q,
             CAST(sum(n * v - s) OVER (PARTITION BY hourly.event_type
                                       ORDER BY h) AS BIGINT) AS cusum
      FROM hourly JOIN stats ON hourly.event_type = stats.event_type
    )
    SELECT event_type, h AS hour_num,
           CAST(cusum AS DOUBLE) / n / 1000000.0 AS cusum_value,
           CASE WHEN cusum > 0 THEN 'up' ELSE 'down' END AS direction
    FROM dev
    WHERE n > 1
      AND abs(CAST(cusum AS DOUBLE)) >
          2.0 * n * sqrt((n * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s)
                         / (CAST(n AS DOUBLE) * (n - 1)))
    """,
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM drift detection on hourly mean value per event
    type: hours where the cumulative deviation from the per-type mean
    exceeds 2 sample-standard-deviations (a sustained level shift, not
    the single-hour spikes events_anomaly_zscore flags).

    Exactness: hourly means are rounded micro-unit integers; the
    n-scaled deviation (n*v - s) keeps the cumulative sum in exact
    bigints, so the only doubles are the identical threshold expression
    on both engines. Scale: the CUSUM window partitions by event_type
    over the HOURLY rollup (|types| x |hours| rows), never the facts;
    per-type moments broadcast back."""
    e = load_table(spark, sf_dir, "events")
    h = F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("bigint")
    yq = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    hourly = (
        e.groupBy("event_type", h.alias("h"))
        .agg(F.sum(yq).alias("s0"), F.count(F.lit(1)).alias("c0"))
        .select(
            "event_type",
            "h",
            F.floor(F.col("s0").cast("double") / F.col("c0") + F.lit(0.5))
            .cast("bigint")
            .alias("v"),
        )
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = hourly.join(F.broadcast(stats), "event_type").withColumn(
        "cusum", F.sum(F.col("n") * F.col("v") - F.col("s")).over(wc)
    )
    sd = F.sqrt(
        (F.col("n") * F.col("q").cast("double") - F.col("s").cast("double") * F.col("s"))
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return (
        dev.filter(
            (F.col("n") > 1)
            & (F.abs(F.col("cusum").cast("double")) > F.lit(2.0) * F.col("n") * sd)
        )
        .select(
            "event_type",
            F.col("h").alias("hour_num"),
            (F.col("cusum").cast("double") / F.col("n") / F.lit(1000000.0)).alias(
                "cusum_value"
            ),
            F.when(F.col("cusum") > 0, "up").otherwise("down").alias("direction"),
        )
    )


# ----------------------------------------------------------------------
# Marketing attribution: first / last touch before each conversion
# ----------------------------------------------------------------------

@register(
    "attribution_touch",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events
    )
    SELECT coalesce(first_touch, 'none') AS first_touch,
           coalesce(last_touch, 'none') AS last_touch,
           count(*) AS n_purchases
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution: every purchase is credited
    to the user's earliest and most recent preceding non-purchase
    event (the two canonical single-touch attribution models), rolled
    up to a (first_touch, last_touch) conversion matrix.

    Scale: both lookbacks ride ONE (user_id)-partitioned,
    (ts, event_id)-ordered window pass — per-user streams, no
    self-join of purchases against history (the naive formulation is
    O(purchases x events-per-user))."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    seq = e.select(
        "event_type",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        )
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


# ----------------------------------------------------------------------
# Robust outliers: median/MAD z-scores on per-(type,user,day) spend
# ----------------------------------------------------------------------

def _med_sql(val: str) -> str:
    """DuckDB interpolated median over a ranked CTE carrying
    (``val``, rn, n) — same portable formula as tpch._pct_cents_sql
    at q=0.5, without the cents re-quantization (inputs are already
    exact integers/halves)."""
    lo = "CAST(floor((n - 1) * 0.5) AS BIGINT) + 1"
    lo_v = f"max(CASE WHEN rn = {lo} THEN {val} END)"
    hi_v = f"max(CASE WHEN rn = least({lo} + 1, n) THEN {val} END)"
    frac = "((max(n) - 1) * 0.5 - floor((max(n) - 1) * 0.5))"
    return f"{lo_v} + ({hi_v} - {lo_v}) * {frac}"


def _med_col(val: str):
    """Spark twin of :func:`_med_sql` (same arithmetic, same order)."""
    lo = F.floor((F.col("n") - 1) * 0.5).cast("bigint") + 1
    lo_v = F.max(F.when(F.col("rn") == lo, F.col(val)))
    hi_v = F.max(F.when(F.col("rn") == F.least(lo + 1, F.col("n")), F.col(val)))
    frac = (F.max("n") - 1) * 0.5 - F.floor((F.max("n") - 1) * 0.5)
    return lo_v + (hi_v - lo_v) * frac


@register(
    "robust_outliers_mad",
    f"""
    WITH g AS (
      SELECT event_type, user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vq
      FROM events GROUP BY 1, 2, 3
    ),
    r1 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY vq, user_id, d) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM g
    ),
    med AS (
      SELECT event_type, {_med_sql('vq')} AS med FROM r1 GROUP BY event_type
    ),
    dv AS (
      SELECT g.event_type, g.user_id, g.d, g.vq, med.med,
             abs(g.vq - med.med) AS dev
      FROM g JOIN med USING (event_type)
    ),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY dev, user_id, d) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dv
    ),
    mad AS (
      SELECT event_type, {_med_sql('dev')} AS mad FROM r2 GROUP BY event_type
    )
    SELECT dv.event_type, dv.user_id, dv.d AS day_num,
           dv.vq / 100.0 AS day_spend,
           CAST(floor(0.6745 * (dv.vq - dv.med) / mad.mad * 1000000.0 + 0.5)
                AS BIGINT) AS rz_units
    FROM dv JOIN mad USING (event_type)
    WHERE abs(0.6745 * (dv.vq - dv.med) / mad.mad) > 3.5
    """,
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on daily per-user spend: modified
    z-score 0.6745·(x − median)/MAD with the |z| > 3.5 Iglewicz-Hoaglin
    cut. Median/MAD resist the heavy tail that inflates a mean/sd
    z-score (events_anomaly_zscore's frame is Poisson-ish counts where
    mean/sd is fine; spend is not).

    Exactness: day-spend is exact cents; median and MAD come from the
    engine-portable rank-interpolation formula (values are .0/.5 exact
    in double), so the flag boundary is bit-deterministic. Scale: both
    rank windows partition by event_type over the (type, user, day)
    rollup — never the raw facts; medians broadcast back."""
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    g = e.groupBy(
        "event_type",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
    ).agg(F.sum(cents).alias("vq"))
    wt = Window.partitionBy("event_type")
    r1 = g.select(
        "*",
        F.row_number().over(wt.orderBy("vq", "user_id", "d")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = r1.groupBy("event_type").agg(_med_col("vq").alias("med"))
    dv = g.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("vq") - F.col("med"))
    )
    r2 = dv.select(
        "*",
        F.row_number().over(wt.orderBy("dev", "user_id", "d")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    mad = r2.groupBy("event_type").agg(_med_col("dev").alias("mad"))
    rz = F.lit(0.6745) * (F.col("vq") - F.col("med")) / F.col("mad")
    return (
        dv.join(F.broadcast(mad), "event_type")
        .filter(F.abs(rz) > 3.5)
        .select(
            "event_type",
            "user_id",
            F.col("d").alias("day_num"),
            (F.col("vq") / F.lit(100.0)).alias("day_spend"),
            F.floor(rz * 1000000.0 + F.lit(0.5)).cast("bigint").alias("rz_units"),
        )
    )


# ----------------------------------------------------------------------
# Period-over-period: week-over-week growth per event type
# ----------------------------------------------------------------------

@register(
    "growth_wow",
    """
    WITH weekly AS (
      SELECT event_type,
             CAST(floor(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7)
                  AS BIGINT) AS week_num,
             count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, week_num, n_events, cents,
             lag(cents) OVER (PARTITION BY event_type ORDER BY week_num)
               AS prev_cents
      FROM weekly
    )
    SELECT event_type, week_num, n_events,
           cents / 100.0 AS revenue,
           round((cents - prev_cents) * 100.0 / prev_cents, 4) + 0.0 AS growth_pct
    FROM lagged WHERE prev_cents IS NOT NULL AND prev_cents > 0
    """,
)
def growth_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth of value per event type — the standard
    period-over-period BI comparison, with exact-cents weekly totals so
    the growth percentage is one deterministic double expression.

    Scale: one map-side-combined weekly rollup (|types| x |weeks|
    groups), then a lag window partitioned by type over that tiny
    frame."""
    e = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")) / F.lit(7)
    ).cast("bigint")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    weekly = e.groupBy("event_type", week.alias("week_num")).agg(
        F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("week_num")
    lagged = weekly.withColumn("prev_cents", F.lag("cents").over(w))
    return (
        lagged.filter(F.col("prev_cents").isNotNull() & (F.col("prev_cents") > 0))
        .select(
            "event_type",
            "week_num",
            "n_events",
            (F.col("cents") / F.lit(100.0)).alias("revenue"),
            (
                F.round(
                    (F.col("cents") - F.col("prev_cents"))
                    * 100.0
                    / F.col("prev_cents"),
                    4,
                )
                + F.lit(0.0)
            ).alias("growth_pct"),
        )
    )


# ----------------------------------------------------------------------
# Model evaluation: exact AUC + thresholded precision/recall/F1
# ----------------------------------------------------------------------

@register(
    "classifier_eval",
    """
    WITH scored AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    per_score AS (
      SELECT s, count(*) AS c, CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY s
    ),
    cum AS (
      SELECT s, c, pos,
             CAST(coalesce(sum(c) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS c_less
      FROM per_score
    ),
    agg AS (
      SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(c - pos) AS BIGINT) AS n_neg,
             CAST(sum(pos * (2 * c_less + c + 1)) AS BIGINT) AS r2,
             CAST(sum(CASE WHEN s >= 25000 THEN pos ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s >= 25000 THEN c - pos ELSE 0 END) AS BIGINT) AS fp
      FROM cum
    )
    SELECT n_pos, n_neg, tp, fp, n_pos - tp AS fn,
           round((CAST(r2 AS DOUBLE) - CAST(n_pos AS DOUBLE) * (n_pos + 1))
                 / (2.0 * n_pos * n_neg), 6) AS auc,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
           round(CAST(tp AS DOUBLE) / n_pos, 6) AS recall,
           round(2.0 * tp / (2.0 * tp + fp + (n_pos - tp)), 6) AS f1
    FROM agg
    """,
)
def classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation, exactly: ROC-AUC via the
    Mann-Whitney rank form with proper tied-score handling (average
    ranks carried as the integer 2·avg_rank = 2·c_less + c + 1, so AUC
    is one exact rational until the final division), plus
    precision/recall/F1 at the value >= 250 operating point (the
    F1 = 2tp/(2tp+fp+fn) form avoids the p+r intermediate). Scores
    here are the value column in cents against the is-purchase label —
    the metric machinery is what's under test, not the model.

    Scale: rows collapse to one group per DISTINCT score before any
    ranking, and the cumulative count-below is the BANDED exclusive
    prefix sum (ranking.global_running_offset) — range-partitioned
    scores, driver-side prefix-merge of numPartitions partials, no
    single-partition sort even for an unbounded score domain.
    Everything else is one aggregate."""
    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("pos")
    )
    cum = global_running_offset(per_score, "c", "s", out_col="c_less")
    hit = F.col("s") >= 25000
    agg = cum.agg(
        F.sum("pos").alias("n_pos"),
        F.sum(F.col("c") - F.col("pos")).alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("c_less") + F.col("c") + 1)).alias("r2"),
        F.sum(F.when(hit, F.col("pos")).otherwise(0)).alias("tp"),
        F.sum(F.when(hit, F.col("c") - F.col("pos")).otherwise(0)).alias("fp"),
    )
    auc = (
        F.col("r2").cast("double") - F.col("n_pos").cast("double") * (F.col("n_pos") + 1)
    ) / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        F.round(auc, 6).alias("auc"),
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6).alias(
            "precision"
        ),
        F.round(F.col("tp").cast("double") / F.col("n_pos"), 6).alias("recall"),
        F.round(
            F.lit(2.0)
            * F.col("tp")
            / (F.lit(2.0) * F.col("tp") + F.col("fp") + (F.col("n_pos") - F.col("tp"))),
            6,
        ).alias("f1"),
    )


def _pct_sql(q: float, val: str) -> str:
    """DuckDB interpolated percentile over a ranked CTE carrying
    (``val``, rn, n) — parametrized version of _med_sql."""
    lo = f"CAST(floor((n - 1) * {q}) AS BIGINT) + 1"
    lo_v = f"max(CASE WHEN rn = {lo} THEN {val} END)"
    hi_v = f"max(CASE WHEN rn = least({lo} + 1, n) THEN {val} END)"
    frac = f"((max(n) - 1) * {q} - floor((max(n) - 1) * {q}))"
    return f"{lo_v} + ({hi_v} - {lo_v}) * {frac}"


def _pct_col(q: float, val: str):
    """Spark twin of :func:`_pct_sql` (same arithmetic, same order)."""
    lo = F.floor((F.col("n") - 1) * q).cast("bigint") + 1
    lo_v = F.max(F.when(F.col("rn") == lo, F.col(val)))
    hi_v = F.max(F.when(F.col("rn") == F.least(lo + 1, F.col("n")), F.col(val)))
    frac = (F.max("n") - 1) * q - F.floor((F.max("n") - 1) * q)
    return lo_v + (hi_v - lo_v) * frac


@register(
    "winsorize_values",
    f"""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vq
      FROM events
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY vq, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    bounds AS (
      SELECT event_type, {_pct_sql(0.05, 'vq')} AS lo, {_pct_sql(0.95, 'vq')} AS hi
      FROM r GROUP BY event_type
    ),
    clipped AS (
      SELECT v.event_type, v.vq, bounds.lo, bounds.hi,
             CAST(floor(least(greatest(CAST(v.vq AS DOUBLE), lo), hi) * 10000 + 0.5)
                  AS BIGINT) AS cq
      FROM v JOIN bounds USING (event_type)
    )
    SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN CAST(vq AS DOUBLE) < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN CAST(vq AS DOUBLE) > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           round(CAST(sum(vq) AS BIGINT) / 100.0 / count(*), 4) AS mean_before,
           round(CAST(sum(cq) AS BIGINT) / 1000000.0 / count(*), 4) AS mean_after
    FROM clipped GROUP BY event_type
    """,
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each group's values into its exact
    [p05, p95] band and report clip counts plus before/after means —
    the CORRECTION step that follows outlier DETECTION
    (robust_outliers_mad / events_anomaly_zscore) in a preprocessing
    pipeline. Percentile bounds come from the portable rank
    interpolation; clipped values are per-row quantized to 1e-4 cents
    before summing, so the after-mean is order-independent despite the
    fractional bounds.

    Scale: the rank windows partition by event_type; bounds broadcast
    back onto the fact rows; two aggregates total."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("vq"),
    )
    wt = Window.partitionBy("event_type")
    r = v.select(
        "*",
        F.row_number().over(wt.orderBy("vq", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    bounds = r.groupBy("event_type").agg(
        _pct_col(0.05, "vq").alias("lo"), _pct_col(0.95, "vq").alias("hi")
    )
    vd = F.col("vq").cast("double")
    clipped = v.join(F.broadcast(bounds), "event_type").withColumn(
        "cq",
        F.floor(
            F.least(F.greatest(vd, F.col("lo")), F.col("hi")) * 10000 + F.lit(0.5)
        ).cast("bigint"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(vd < F.col("lo"), 1).otherwise(0)).alias("n_clipped_low"),
        F.sum(F.when(vd > F.col("hi"), 1).otherwise(0)).alias("n_clipped_high"),
        F.round(F.sum("vq") / F.lit(100.0) / F.count(F.lit(1)), 4).alias(
            "mean_before"
        ),
        F.round(F.sum("cq") / F.lit(1000000.0) / F.count(F.lit(1)), 4).alias(
            "mean_after"
        ),
    )


@register(
    "cap_events_per_user_day",
    """
    WITH ranked AS (
      SELECT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             event_id,
             row_number() OVER (
               PARTITION BY user_id, datediff('day', DATE '1970-01-01',
                                              CAST(ts AS DATE))
               ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, d AS day_num, count(*) AS n_events,
           CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= 5 THEN event_id ELSE 0 END) AS BIGINT)
             AS kept_ids_sum
    FROM ranked GROUP BY user_id, d
    """,
)
def cap_events_per_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity traffic capping: keep at most 5 events per user per
    day, survivors chosen deterministically as the FIRST five by
    (ts, event_id) — the abuse/bot mitigation that stops a single hot
    entity from dominating a behavioral training set (the row-level
    sibling of the token-level source capping in
    curation.cap_sources_by_budget). kept_ids_sum fingerprints the
    exact survivor set.

    Scale: one window partitioned by (user, day) — small independent
    partitions — and one aggregate on the same key; nothing global."""
    e = load_table(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    w = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    ranked = e.select("user_id", d.alias("d"), "event_id", "ts").withColumn(
        "rn", F.row_number().over(w)
    )
    kept = F.col("rn") <= 5
    return ranked.groupBy("user_id", F.col("d").alias("day_num")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("event_id")).otherwise(0)).alias("kept_ids_sum"),
    )


@register(
    "conversion_latency",
    f"""
    WITH s AS (
      SELECT user_id, min(ts) AS su FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT s.user_id, s.su, min(e.ts) AS pu
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.su
      GROUP BY s.user_id, s.su
    ),
    lat AS (
      SELECT CAST(floor(epoch(pu)) AS BIGINT)
             - CAST(floor(epoch(su)) AS BIGINT) AS v
      FROM p
    ),
    r AS (
      SELECT v, row_number() OVER (ORDER BY v) AS rn,
             count(*) OVER () AS n
      FROM lat
    )
    SELECT max(n) AS n_converted,
           round(({_pct_sql(0.5, 'v')}) / 60.0, 4) AS p50_minutes,
           round(({_pct_sql(0.9, 'v')}) / 60.0, 4) AS p90_minutes
    FROM r
    """,
)
def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, seconds between first signup and the
    first purchase AFTER it, summarized as interpolated p50/p90 minutes
    — the duration view of the funnel (events_funnel counts WHO
    converts; this measures HOW LONG conversion takes). Latencies are
    exact integer seconds; the percentile interpolation is the portable
    rank formula.

    Scale: two per-user aggregates co-partitioned on user_id; the
    latency frame (one row per converter) is ranked with the BANDED
    global row_number (operators/ranking.py) — range-partition on v,
    per-partition row_number, broadcast prefix offsets — so there is no
    single-partition sort even when the converter frame is billions of
    rows; the total count falls out of the offsets pass for free."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("su"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("su"))
        .groupBy("user_id", "su")
        .agg(F.min("ts").alias("pu"))
    )
    lat = p.select(
        (F.unix_timestamp("pu") - F.unix_timestamp("su")).cast("bigint").alias("v")
    )
    ranked, total = global_row_number(
        lat, [F.col("v")], out_col="rn", with_total=True
    )
    r = ranked.withColumn("n", F.lit(total).cast("bigint"))
    return r.agg(
        F.max("n").alias("n_converted"),
        F.round(_pct_col(0.5, "v") / F.lit(60.0), 4).alias("p50_minutes"),
        F.round(_pct_col(0.9, "v") / F.lit(60.0), 4).alias("p90_minutes"),
    )


@register(
    "weekly_auc_trend",
    """
    WITH scored AS (
      SELECT CAST(floor(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7)
                  AS BIGINT) AS week_num,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    per_score AS (
      SELECT week_num, s, count(*) AS c, CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1, 2
    ),
    cum AS (
      SELECT week_num, s, c, pos,
             CAST(coalesce(sum(c) OVER (PARTITION BY week_num ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS c_less
      FROM per_score
    ),
    agg AS (
      SELECT week_num,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(c - pos) AS BIGINT) AS n_neg,
             CAST(sum(pos * (2 * c_less + c + 1)) AS BIGINT) AS r2
      FROM cum GROUP BY week_num
    )
    SELECT week_num, n_pos, n_neg,
           round((CAST(r2 AS DOUBLE) - CAST(n_pos AS DOUBLE) * (n_pos + 1))
                 / (2.0 * n_pos * n_neg), 6) AS auc
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
)
def weekly_auc_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-performance monitoring: the tie-aware Mann-Whitney AUC of
    the value-predicts-purchase scorer, per WEEK — the drift series a
    production scoreboard plots (classifier_eval is the one-shot
    number). Same exact integer rank-sum machinery, but every window
    and aggregate partitions by week_num, so the score-domain ranking
    never needs a global sort.

    Scale: facts collapse to one group per (week, distinct score); the
    cumulative window and the final rollup both ride the week key."""
    e = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")) / F.lit(7)
    ).cast("bigint")
    scored = e.select(
        week.alias("week_num"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("week_num", "s").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("pos")
    )
    w = (
        Window.partitionBy("week_num")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_score.withColumn("c_less", F.coalesce(F.sum("c").over(w), F.lit(0)))
    agg = cum.groupBy("week_num").agg(
        F.sum("pos").alias("n_pos"),
        F.sum(F.col("c") - F.col("pos")).alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("c_less") + F.col("c") + 1)).alias("r2"),
    )
    auc = (
        F.col("r2").cast("double")
        - F.col("n_pos").cast("double") * (F.col("n_pos") + 1)
    ) / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
    return agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "week_num", "n_pos", "n_neg", F.round(auc, 6).alias("auc")
    )


#: per-event inactivity extension, seconds (a click keeps the session
#: alive briefly; a purchase holds it open much longer)
GAPS = {"click": 600, "view": 600, "error": 300, "signup": 1800, "purchase": 3600}


@register(
    "events_session_dynamic_gap",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CASE event_type WHEN 'click' THEN 600 WHEN 'view' THEN 600
                  WHEN 'error' THEN 300 WHEN 'signup' THEN 1800
                  ELSE 3600 END AS gap
      FROM events
    ),
    seq AS (
      SELECT user_id, event_id, sec,
             lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
               AS prev_sec,
             lag(gap) OVER (PARTITION BY user_id ORDER BY sec, event_id)
               AS prev_gap
      FROM e
    ),
    marked AS (
      SELECT user_id, event_id, sec,
             CASE WHEN prev_sec IS NULL OR sec > prev_sec + prev_gap
                  THEN 1 ELSE 0 END AS new_sess
      FROM seq
    ),
    sess AS (
      SELECT user_id, event_id, sec,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY sec, event_id) AS BIGINT)
               AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           CAST(max(sec) - min(sec) AS BIGINT) AS duration_s
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: each event extends its session by an
    event-specific inactivity window (clicks keep it alive 10 min,
    purchases an hour) — the semantics Structured Streaming's
    session_window(ts, CASE ...) applies on live streams, computed here
    as the batch twin: a new session starts when the gap since the
    previous event exceeds THAT event's extension. Integer-second
    arithmetic end to end; session ids are an exact running sum.

    Scale: one (user)-partitioned, (ts, id)-ordered window pass for the
    lag and the running sum, then a per-session rollup — identical
    posture to the fixed-gap sessionize, just a per-row gap column."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", 600)
    for t, g in list(GAPS.items())[1:]:
        gap = gap.when(F.col("event_type") == t, g)
    gap = gap.otherwise(3600)
    base = e.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("sec"),
        gap.alias("gap"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seq = base.select(
        "user_id",
        "event_id",
        "sec",
        F.lag("sec").over(w).alias("prev_sec"),
        F.lag("gap").over(w).alias("prev_gap"),
    )
    new_sess = F.when(
        F.col("prev_sec").isNull()
        | (F.col("sec") > F.col("prev_sec") + F.col("prev_gap")),
        1,
    ).otherwise(0)
    sess = seq.withColumn("new_sess", new_sess).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("sec") - F.min("sec")).cast("bigint").alias("duration_s"),
    )


GAP_S = 1800


@register(
    "peak_concurrency",
    f"""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    seq AS (
      SELECT user_id, event_id, sec,
             lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
               AS prev_sec
      FROM e
    ),
    marked AS (
      SELECT user_id, event_id, sec,
             CASE WHEN prev_sec IS NULL OR sec - prev_sec > {GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM seq
    ),
    sess AS (
      SELECT user_id,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY sec, event_id)
                  AS BIGINT) AS session_id,
             sec
      FROM marked
    ),
    spans AS (
      SELECT user_id, session_id, min(sec) AS s, max(sec) AS t
      FROM sess GROUP BY 1, 2
    ),
    bounds AS (
      SELECT CAST(floor(s / 86400) AS BIGINT) AS day_num, s AS sec,
             CAST(1 AS BIGINT) AS delta
      FROM spans
      UNION ALL
      SELECT CAST(floor(s / 86400) AS BIGINT), t + 1, CAST(-1 AS BIGINT)
      FROM spans
    ),
    swept AS (
      SELECT day_num, sec,
             CAST(sum(delta) OVER (PARTITION BY day_num
                                   ORDER BY sec, delta
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS open_now
      FROM bounds
    )
    SELECT day_num, CAST(max(open_now) AS BIGINT) AS peak_concurrent,
           CAST(count(*) / 2 AS BIGINT) AS n_sessions
    FROM swept GROUP BY day_num
    """,
)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak session concurrency: sessionize each user's stream
    (30-min gap), then sweep +1 at each session start and −1 just past
    its end in time order — the running sum's maximum is the largest
    number of simultaneously open sessions, capacity planning's first
    question. Session spans are attributed to their start day (spans
    crossing midnight count toward the day they began — stated, not
    hidden). Boundaries are exact integer seconds; at a tied
    second the −1 sorts before the +1 (delta ascending), so a session
    ending at the instant another starts never inflates the peak.

    Scale: sessionization partitions by user; the sweep partitions by
    day over 2 rows per session (a tiny fraction of the facts)."""
    e = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("sec", "event_id")
    base = e.select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("sec")
    )
    marked = base.withColumn(
        "new_sess",
        F.when(
            F.lag("sec").over(wu).isNull()
            | (F.col("sec") - F.lag("sec").over(wu) > GAP_S),
            1,
        ).otherwise(0),
    )
    # (sec, event_id): the running sum needs the same TOTAL order as
    # the lag — ties on sec alone would let the two engines assign a
    # same-second event to different sessions
    sess = marked.withColumn(
        "session_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id")
            .orderBy("sec", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("sec").alias("s"), F.max("sec").alias("t")
    )
    day = F.floor(F.col("s") / F.lit(86400)).cast("bigint")
    starts = spans.select(
        day.alias("day_num"), F.col("s").alias("sec"), F.lit(1).cast("bigint").alias("delta")
    )
    ends = spans.select(
        day.alias("day_num"),
        (F.col("t") + 1).alias("sec"),
        F.lit(-1).cast("bigint").alias("delta"),
    )
    bounds = starts.unionAll(ends)
    ws = (
        Window.partitionBy("day_num")
        .orderBy(F.col("sec"), F.col("delta"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = bounds.withColumn("open_now", F.sum("delta").over(ws))
    return swept.groupBy("day_num").agg(
        F.max("open_now").cast("bigint").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_sessions"),
    )


@register(
    "events_session_flush",
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    seq AS (
      SELECT user_id, event_id, sec,
             lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
               AS prev_sec
      FROM e
    ),
    marked AS (
      SELECT user_id, sec,
             CASE WHEN prev_sec IS NULL OR sec > prev_sec + 1800
                  THEN 1 ELSE 0 END AS new_sess,
             event_id
      FROM seq
    ),
    sess AS (
      SELECT user_id, sec,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY sec, event_id) AS BIGINT)
               AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(min(sec) AS BIGINT) AS session_start_sec,
           CAST(max(sec) AS BIGINT) AS session_end_sec,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_session_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/stateful.py:session_timeout_stream —
    fixed 1800 s inactivity-gap sessions as (user, start, end, count)
    summaries, integer seconds end-to-end. In batch every session is
    already 'quiet', so this is plain gaps-and-islands; the streaming
    twin must reproduce it exactly, including the sessions only the
    EventTimeTimeout timer can close (pinned by
    test_session_timeout_stream_matches_batch)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seq = e.withColumn("prev_sec", F.lag("sec").over(w))
    marked = seq.withColumn(
        "new_sess",
        F.when(
            F.col("prev_sec").isNull() | (F.col("sec") > F.col("prev_sec") + 1800), 1
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("sec").cast("bigint").alias("session_start_sec"),
        F.max("sec").cast("bigint").alias("session_end_sec"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("session_id")


@register(
    "range_join_binned",
    """
    WITH spans AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             min(ts) AS s_start, max(ts) AS s_end
      FROM events GROUP BY 1, 2
    ),
    incidents AS (
      SELECT event_id, ts AS i_start, ts + INTERVAL 30 MINUTE AS i_end
      FROM events WHERE event_type = 'error'
    )
    SELECT s.user_id, s.day,
           CAST(coalesce(count(i.event_id), 0) AS BIGINT) AS n_incidents
    FROM spans s LEFT JOIN incidents i
      ON s.s_start < i.i_end AND i.i_start < s.s_end
    GROUP BY 1, 2
    """,
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join — interval overlap with NO equi key: per
    user-day activity span, count the error incidents (30-minute
    windows from ANY user) overlapping it.

    Through round 8 this ran the Databricks range-join-hint shape
    (explode both interval sets onto an hour grid, equi-join the bin,
    dedup candidates, verify exactly). The round-9 full sf2.5 sweep
    killed that plan: incidents are GLOBAL (no user key), so the
    candidate pair set grows ~K^2 in the scale factor — ~6e9 pairs at
    sf2.5 — and the dedup shuffle OOMs the heap. Binning only helps
    when overlap density is bounded; here the semantics themselves are
    dense.

    The fix computes every span's count WITHOUT enumerating pairs.
    Incident windows all have the same width, so i_start < i_end and

        n(span) = #{i : i_start < s_end  AND  i_end > s_start}
                = #{i : i_start < s_end} - #{i : i_end <= s_start}

    (the subtracted set is a subset of the first: i_end <= s_start
    implies i_start < i_end <= s_start <= s_end). Each term is a CDF
    lookup of a span endpoint against the global multiset of incident
    endpoints — done by unioning probe rows into the per-timestamp
    count frame and taking a banded exclusive prefix sum
    (ranking.global_running_offset — fourth consumer; no
    single-partition window). Strict vs inclusive comparison is an
    ordering tiebreak: probes sort BEFORE same-timestamp counts for
    `<`, AFTER them for `<=`. Work is O(|spans| + |incidents|) —
    independent of overlap density — all shuffles keyed or
    range-partitioned, driver traffic bounded to per-partition
    offsets. Zero-incident spans fall out as 0 - 0 (no scaffold
    re-join needed)."""
    e = load_table(spark, sf_dir, "events")
    spans = e.groupBy(
        "user_id", F.col("ts").cast("date").cast("string").alias("day")
    ).agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    inc = e.filter(F.col("event_type") == "error").select(
        F.unix_micros("ts").alias("start_us"),
        F.unix_micros(F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_us"),
    )

    def cdf_counts(points: DataFrame, probes: DataFrame, probe_first: bool, out: str) -> DataFrame:
        """For each probe (user_id, day, ts_us): running count of
        points with ts_us < probe (probe_first) or <= probe."""
        # probe rows carry an explicit marker — do NOT overload user_id
        # nullability as the sentinel (a NULL-user_id span group would be
        # silently dropped and diverge from the oracle's GROUP BY, which
        # keeps a NULL group).
        pt = points.groupBy("ts_us").agg(F.count(F.lit(1)).alias("c"))
        pt = pt.select(
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("string").alias("day"),
            (F.col("ts_us") * 2 + (1 if probe_first else 0)).alias("ord"),
            F.col("c").cast("long").alias("c"),
            F.lit(False).alias("__is_probe"),
        )
        pr = probes.select(
            F.col("user_id").cast("long").alias("user_id"),
            "day",
            (F.col("ts_us") * 2 + (0 if probe_first else 1)).alias("ord"),
            F.lit(0).cast("long").alias("c"),
            F.lit(True).alias("__is_probe"),
        )
        cum = global_running_offset(pr.unionByName(pt), "c", "ord", out_col=out)
        return cum.filter(F.col("__is_probe")).select("user_id", "day", out)

    c_lt = cdf_counts(  # #{i_start < s_end}
        inc.select(F.col("start_us").alias("ts_us")),
        spans.select("user_id", "day", F.unix_micros("s_end").alias("ts_us")),
        probe_first=True,
        out="n_lt",
    )
    c_le = cdf_counts(  # #{i_end <= s_start}
        inc.select(F.col("end_us").alias("ts_us")),
        spans.select("user_id", "day", F.unix_micros("s_start").alias("ts_us")),
        probe_first=False,
        out="n_le",
    )
    # null-safe join: the span grouping keeps NULL user_id / day groups
    # (matching the oracle's GROUP BY); a plain equi-join would drop them
    return (
        c_lt.alias("lt")
        .join(
            c_le.alias("le"),
            F.col("lt.user_id").eqNullSafe(F.col("le.user_id"))
            & F.col("lt.day").eqNullSafe(F.col("le.day")),
        )
        .select(
            F.col("lt.user_id").alias("user_id"),
            F.col("lt.day").alias("day"),
            (F.col("n_lt") - F.col("n_le")).cast("bigint").alias("n_incidents"),
        )
    )


@register(
    "classifier_calibration",
    """
    WITH scored AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    )
    SELECT least(9, s // 5000) AS bucket,
           count(*) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(s) AS DOUBLE) / count(*), 4) AS avg_score_cents,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
    FROM scored GROUP BY 1
    """,
)
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability curve for the classifier_eval score:
    10 fixed-width score bins, each reporting mean predicted score and
    empirical positive rate — the reliability-diagram table model
    monitoring plots (a well-calibrated scorer tracks the diagonal).
    One map-side-combined aggregate; integers until the final
    divisions, same exactness posture as classifier_eval."""
    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    return (
        scored.groupBy(F.least(F.lit(9), F.floor(F.col("s") / 5000)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.round(F.sum("s").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_score_cents"
            ),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
                "pos_rate"
            ),
        )
    )


@register(
    "attribution_time_decay",
    """
    WITH conv AS (
      SELECT event_id AS cid, user_id, ts AS cts
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type <> 'purchase'
    ),
    pairs AS (
      SELECT conv.cid, t.event_type AS channel,
             CAST(1 AS BIGINT)
               << CAST(20 - date_diff('day', CAST(t.ts AS DATE),
                                      CAST(conv.cts AS DATE)) AS INTEGER)
               AS units
      FROM conv JOIN t
        ON t.user_id = conv.user_id
       AND t.ts < conv.cts
       AND date_diff('day', CAST(t.ts AS DATE), CAST(conv.cts AS DATE))
           BETWEEN 0 AND 20
    ),
    tot AS (SELECT CAST(sum(units) AS BIGINT) AS all_units FROM pairs)
    SELECT channel,
           count(*) AS n_touches,
           CAST(sum(units) AS BIGINT) AS units,
           round(CAST(sum(units) AS DOUBLE) / all_units, 6) AS share
    FROM pairs, tot
    GROUP BY channel, all_units
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay MULTI-touch attribution: every purchase credits each
    of the user's preceding non-purchase touches within 20 days,
    weighted by 2^(20 - days-before) — an INTEGER dyadic weight, so
    the per-channel credit shares stay exact rationals until one final
    division (no float halflife accumulation to drift between
    engines). Complements attribution_touch's single-touch models.

    Scale: the conversion x touch pairing is an equi-join on user_id
    with a 20-day range residual — the events_interval_join shape, so
    state and pair counts are bounded by the lookback window, never
    |purchases| x |history|."""
    e = load_table(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("cuid"),
        F.col("ts").alias("cts"),
    )
    touches = e.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("channel")
    )
    dd = F.datediff(F.col("cts").cast("date"), F.col("ts").cast("date"))
    pairs = (
        conv.join(touches, (F.col("user_id") == F.col("cuid")) & (F.col("ts") < F.col("cts")))
        .withColumn("dd", dd)
        .filter((F.col("dd") >= 0) & (F.col("dd") <= 20))
        .select(
            "cid",
            "channel",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(20 - dd AS INT))").alias(
                "units"
            ),
        )
    )
    tot = pairs.agg(F.sum("units").cast("bigint").alias("all_units"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .groupBy("channel", "all_units")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("units").cast("bigint").alias("units"),
        )
        .select(
            "channel",
            "n_touches",
            "units",
            F.round(F.col("units").cast("double") / F.col("all_units"), 6).alias(
                "share"
            ),
        )
    )


# ----------------------------------------------------------------------
# Seasonal-naive MASE
# ----------------------------------------------------------------------


@register(
    "seasonal_naive_mase",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT c.event_type, c.y,
             s.y AS y_lag7, n.y AS y_lag1
      FROM daily c
      JOIN daily s ON s.event_type = c.event_type AND s.d = c.d - INTERVAL 7 DAY
      JOIN daily n ON n.event_type = c.event_type AND n.d = c.d - INTERVAL 1 DAY
    )
    SELECT event_type,
           count(*) AS n_days,
           CAST(sum(abs(y - y_lag7)) AS BIGINT) AS abs_err_seasonal,
           CAST(sum(abs(y - y_lag1)) AS BIGINT) AS abs_err_naive,
           round(sum(abs(y - y_lag7)) * 1.0 / sum(abs(y - y_lag1)), 6) AS mase
    FROM scored GROUP BY event_type
    """,
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the lag-7 seasonal-naive forecast of daily event counts
    per type, scaled by the lag-1 naive baseline — computed only on
    days where both references exist (equi-joins on shifted dates, so
    calendar gaps can never silently misalign the way a row-offset
    LAG would).

    Scale: the daily aggregate collapses the event stream to
    |types| × |days| rows before any join; the two self-joins and the
    final groupBy all run on that collapsed table. Error sums stay
    exact integers; MASE is the single final division."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    lag7 = daily.select(
        "event_type", F.date_add("d", 7).alias("d"), F.col("y").alias("y_lag7")
    )
    lag1 = daily.select(
        "event_type", F.date_add("d", 1).alias("d"), F.col("y").alias("y_lag1")
    )
    scored = daily.join(lag7, ["event_type", "d"]).join(lag1, ["event_type", "d"])
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("y") - F.col("y_lag7"))).cast("bigint").alias("abs_err_seasonal"),
        F.sum(F.abs(F.col("y") - F.col("y_lag1"))).cast("bigint").alias("abs_err_naive"),
        F.round(
            F.sum(F.abs(F.col("y") - F.col("y_lag7")))
            / F.sum(F.abs(F.col("y") - F.col("y_lag1"))),
            6,
        ).alias("mase"),
    )


# ----------------------------------------------------------------------
# Two-proportion conversion z-test
# ----------------------------------------------------------------------


@register(
    "ab_conversion_ztest",
    """
    WITH u AS (
      SELECT user_id % 2 AS cohort,
             max(CASE WHEN event_type = 'purchase' AND value > 95
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT cohort, count(*) AS n, CAST(sum(conv) AS BIGINT) AS k
      FROM u GROUP BY cohort
    ),
    wide AS (
      SELECT max(CASE WHEN cohort = 0 THEN n END) AS n0,
             max(CASE WHEN cohort = 0 THEN k END) AS k0,
             max(CASE WHEN cohort = 1 THEN n END) AS n1,
             max(CASE WHEN cohort = 1 THEN k END) AS k1
      FROM c
    )
    SELECT n0, k0, n1, k1,
           round(k0 * 1.0 / n0, 6) AS p0,
           round(k1 * 1.0 / n1, 6) AS p1,
           CASE WHEN k0 + k1 > 0 AND k0 + k1 < n0 + n1
                THEN round((k0 * 1.0 / n0 - k1 * 1.0 / n1)
                     / sqrt(((k0 + k1) * 1.0 / (n0 + n1))
                            * (1.0 - (k0 + k1) * 1.0 / (n0 + n1))
                            * (1.0 / n0 + 1.0 / n1)), 6)
                END AS z
    FROM wide
    """,
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test of purchase conversion between the
    even and odd user_id cohorts (a deterministic 50/50 split — the
    hash-bucket assignment an experimentation platform would use).

    Scale: one groupBy(user_id) collapses the event stream to one row
    per user (the natural shuffle), one tiny groupBy(cohort), then a
    2-row pivot. The statistic is built from four exact integers with
    the division/sqrt sequence written identically on both engines —
    IEEE sqrt is correctly rounded, so z matches bit-for-bit before
    its round(6)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 95), 1
            ).otherwise(0)
        ).alias("conv")
    )
    c = u.groupBy((F.col("user_id") % 2).alias("cohort")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").cast("bigint").alias("k")
    )
    wide = c.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("cohort") == 0, F.col("k"))).alias("k0"),
        F.max(F.when(F.col("cohort") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("cohort") == 1, F.col("k"))).alias("k1"),
    )
    pp = (F.col("k0") + F.col("k1")) * 1.0 / (F.col("n0") + F.col("n1"))
    z = (F.col("k0") * 1.0 / F.col("n0") - F.col("k1") * 1.0 / F.col("n1")) / F.sqrt(
        pp * (1.0 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    nondegenerate = (F.col("k0") + F.col("k1") > 0) & (
        F.col("k0") + F.col("k1") < F.col("n0") + F.col("n1")
    )
    return wide.select(
        "n0", "k0", "n1", "k1",
        F.round(F.col("k0") * 1.0 / F.col("n0"), 6).alias("p0"),
        F.round(F.col("k1") * 1.0 / F.col("n1"), 6).alias("p1"),
        F.when(nondegenerate, F.round(z, 6)).alias("z"),
    )


# ----------------------------------------------------------------------
# Inter-arrival dispersion / burstiness
# ----------------------------------------------------------------------


@register(
    "interarrival_dispersion",
    """
    WITH seq AS (
      SELECT event_type,
             floor(epoch(ts)) AS s,
             lead(floor(epoch(ts))) OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    gaps AS (
      SELECT event_type, CAST(nxt - s AS BIGINT) AS g
      FROM seq WHERE nxt IS NOT NULL
    ),
    agg AS (
      SELECT event_type, count(*) AS n_gaps,
             CAST(sum(g) AS BIGINT) AS sg,
             CAST(sum(g * g) AS BIGINT) AS sg2
      FROM gaps GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           round(sg * 1.0 / n_gaps, 6) AS mean_gap_s,
           round((sg2 - (CAST(sg AS DOUBLE) * sg) / n_gaps) / n_gaps, 6)
             AS var_gap_s,
           round(((sg2 - (CAST(sg AS DOUBLE) * sg) / n_gaps) / n_gaps)
                 / ((sg * 1.0 / n_gaps) * (sg * 1.0 / n_gaps)), 6) AS cv2,
           round((sqrt(((sg2 - (CAST(sg AS DOUBLE) * sg) / n_gaps) / n_gaps))
                  - sg * 1.0 / n_gaps)
                 / (sqrt(((sg2 - (CAST(sg AS DOUBLE) * sg) / n_gaps) / n_gaps))
                    + sg * 1.0 / n_gaps), 6) AS burstiness
    FROM agg
    """,
)
def interarrival_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type dispersion of per-user inter-arrival times:
    CV² = Var/Mean² (1 for a Poisson process) and the Goh-Barabási
    burstiness B = (σ-μ)/(σ+μ) ∈ (-1, 1) — the standard check that a
    'user activity' stream is organic rather than a fixed-rate
    replay.

    Scale: ONE window partitioned by (user_id, event_type) — the
    natural key, no skew; per-type sums are exact int64 (gap seconds
    squared stay far under 2^63 at any rung) and every float op after
    is the same expression tree on both engines, so the round(6)
    comparison is deterministic. The int64→double promotion happens
    INSIDE the sg*sg term on purpose: a pure-int sg*sg would overflow
    int64 on Spark while DuckDB silently widens to hugeint — writing
    the cast explicitly makes both engines compute the identical
    double product."""
    ev = load_table(spark, sf_dir, "events")
    s = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select("event_type", s.alias("s"), "user_id", "ts", "event_id").withColumn(
        "nxt", F.lead("s").over(w)
    )
    gaps = seq.where(F.col("nxt").isNotNull()).select(
        "event_type", (F.col("nxt") - F.col("s")).cast("bigint").alias("g")
    )
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("g").cast("bigint").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("sg2"),
    )
    mean = F.col("sg") * 1.0 / F.col("n_gaps")
    var = (F.col("sg2") - (F.col("sg").cast("double") * F.col("sg")) / F.col("n_gaps")) / F.col(
        "n_gaps"
    )
    sd = F.sqrt(var)
    return agg.select(
        "event_type",
        "n_gaps",
        F.round(mean, 6).alias("mean_gap_s"),
        F.round(var, 6).alias("var_gap_s"),
        F.round(var / (mean * mean), 6).alias("cv2"),
        F.round((sd - mean) / (sd + mean), 6).alias("burstiness"),
    )


# ----------------------------------------------------------------------
# Rolling-origin backtest
# ----------------------------------------------------------------------

BACKTEST_ORIGINS = (7, 14, 21)


@register(
    "rolling_origin_backtest",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    h AS (SELECT max(d) AS dmax FROM daily),
    o AS (SELECT unnest([{", ".join(str(x) for x in BACKTEST_ORIGINS)}])
                 AS days_back),
    test AS (
      SELECT o.days_back, c.event_type, c.y, s.y AS y_hat
      FROM daily c
      CROSS JOIN h
      CROSS JOIN o
      JOIN daily s ON s.event_type = c.event_type AND s.d = c.d - 7
      WHERE c.d > h.dmax - o.days_back
        AND c.d <= h.dmax - (o.days_back - 7)
    )
    SELECT CAST(days_back AS BIGINT) AS days_back, event_type,
           count(*) AS n_days,
           CAST(sum(abs(y - y_hat)) AS BIGINT) AS abs_err,
           round(sum(abs(y - y_hat)) * 1.0 / count(*), 6) AS mae
    FROM test GROUP BY 1, 2
    """,
)
def rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE of the lag-7 seasonal-naive forecast over a 7-day test
    window at each of three rolling origins (7/14/21 days before the
    corpus end). The forecast for a test day is the count 7 days
    earlier — at or before the origin by construction, so no
    look-ahead leakage is possible. The per-origin MAE trend is the
    stability signal a forecasting pipeline gates deploys on.

    Scale: the event stream collapses to |types|×|days| rows first;
    origins and the horizon ride 1-row/3-row broadcasts; the forecast
    lookup is a date-shifted equi-join on the collapsed table. Error
    sums are exact integers."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    h = daily.agg(F.max("d").alias("dmax"))
    origins = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(x) for x in BACKTEST_ORIGINS])).alias(
                "days_back"
            )
        )
    )
    lag7 = daily.select(
        "event_type", F.date_add("d", 7).alias("d"), F.col("y").alias("y_hat")
    )
    test = (
        daily.join(lag7, ["event_type", "d"])
        .crossJoin(F.broadcast(h))
        .crossJoin(F.broadcast(origins))
        .where(
            (F.col("d") > F.date_sub("dmax", F.col("days_back")))
            & (F.col("d") <= F.date_sub("dmax", F.col("days_back") - 7))
        )
    )
    return test.groupBy(
        F.col("days_back").cast("bigint").alias("days_back"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("y") - F.col("y_hat"))).cast("bigint").alias("abs_err"),
        F.round(
            F.sum(F.abs(F.col("y") - F.col("y_hat"))) * 1.0 / F.count(F.lit(1)), 6
        ).alias("mae"),
    )


# ----------------------------------------------------------------------
# Brier decomposition
# ----------------------------------------------------------------------


@register(
    "brier_decomposition",
    """
    WITH scored AS (
      SELECT least(1000, CAST(floor(value * 10 + 0.5) AS BIGINT)) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    bins AS (
      SELECT least(9, p // 100) AS bucket,
             count(*) AS nk,
             CAST(sum(y) AS BIGINT) AS syk,
             CAST(sum(p) AS BIGINT) AS spk
      FROM scored GROUP BY 1
    ),
    g AS (
      SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(syk) AS BIGINT) AS sy
      FROM bins
    ),
    raw AS (
      SELECT (SELECT n FROM g) AS n,
             (SELECT sy FROM g) AS sy,
             (SELECT CAST(sum(p * p - 2000 * p * y + 1000000 * y) AS BIGINT)
              FROM scored) AS q,
             sum((CAST(spk - 1000 * syk AS DOUBLE)
                  * CAST(spk - 1000 * syk AS DOUBLE)) / nk) AS rel_num,
             sum((CAST((SELECT n FROM g) * syk
                       - nk * (SELECT sy FROM g) AS DOUBLE)
                  * CAST((SELECT n FROM g) * syk
                         - nk * (SELECT sy FROM g) AS DOUBLE)) / nk) AS res_num
      FROM bins
    )
    SELECT n, sy,
           round(q / (CAST(n AS DOUBLE) * 1000000.0), 6) AS brier,
           round(rel_num / (CAST(n AS DOUBLE) * 1000000.0), 6) AS reliability,
           round(res_num / (CAST(n AS DOUBLE) * n * n), 6) AS resolution,
           round((sy * 1.0 / n) * (1.0 - sy * 1.0 / n), 6) AS uncertainty,
           round(q / (CAST(n AS DOUBLE) * 1000000.0)
                 - (rel_num / (CAST(n AS DOUBLE) * 1000000.0)
                    - res_num / (CAST(n AS DOUBLE) * n * n)
                    + (sy * 1.0 / n) * (1.0 - sy * 1.0 / n)), 6) AS residual
    FROM raw
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score of the per-mille
    quantized `value` score predicting purchase events:
    Brier = reliability − resolution + uncertainty + residual, where
    the residual is the within-bin variance term most dashboards
    silently fold into reliability — here it is reported, so a
    perfectly-binned scorer shows residual 0 and a coarse binning
    shows exactly what the binning cost.

    Scale: one map-side-combined 10-bin aggregate over the events
    scan plus one exact integer pass for the raw Brier sum
    (p² − 2000·p·y + 10⁶·y stays int64 at any rung); everything
    after operates on 10 rows. The bin sums are the only
    order-sensitive float reductions (10 O(1) terms — far inside
    round-6)."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.least(F.lit(1000), F.floor(F.col("value") * 10 + F.lit(0.5)))
        .cast("bigint")
        .alias("p"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy(
        F.least(F.lit(9), F.expr("p div 100")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("nk"),
        F.sum("y").cast("bigint").alias("syk"),
        F.sum("p").cast("bigint").alias("spk"),
    )
    q = scored.agg(
        F.sum(
            F.col("p") * F.col("p") - 2000 * F.col("p") * F.col("y") + 1000000 * F.col("y")
        )
        .cast("bigint")
        .alias("q")
    )
    g = bins.agg(
        F.sum("nk").cast("bigint").alias("n"), F.sum("syk").cast("bigint").alias("sy")
    )
    wb = bins.crossJoin(F.broadcast(g))
    e_rel = (F.col("spk") - 1000 * F.col("syk")).cast("double")
    e_res = (F.col("n") * F.col("syk") - F.col("nk") * F.col("sy")).cast("double")
    raw = wb.agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.sum(e_rel * e_rel / F.col("nk")).alias("rel_num"),
        F.sum(e_res * e_res / F.col("nk")).alias("res_num"),
    ).crossJoin(F.broadcast(q))
    n_d = F.col("n").cast("double")
    brier = F.col("q") / (n_d * 1000000.0)
    rel = F.col("rel_num") / (n_d * 1000000.0)
    res = F.col("res_num") / (n_d * F.col("n") * F.col("n"))
    unc = (F.col("sy") * 1.0 / F.col("n")) * (1.0 - F.col("sy") * 1.0 / F.col("n"))
    return raw.select(
        "n",
        "sy",
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(brier - (rel - res + unc), 6).alias("residual"),
    )


# ----------------------------------------------------------------------
# Strict-order windowed funnel
# ----------------------------------------------------------------------


@register(
    "window_funnel_strict",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, v.t1, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 HOUR
      GROUP BY e.user_id, v.t1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t1 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_step1_view,
           (SELECT count(*) FROM c) AS n_step2_click,
           (SELECT count(*) FROM p) AS n_step3_purchase
    """,
)
def window_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order windowed funnel anchored at each user's FIRST
    view: a qualifying click must come strictly after that view, a
    qualifying purchase strictly after that click, and both inside
    one hour of the anchor. Deterministic greedy-from-first-anchor
    semantics (documented variant of ClickHouse's windowFunnel, which
    maximizes over anchors); compare with `events_funnel` (weak
    first-occurrence ordering) to see what ordering strictness costs.

    Scale: three user-keyed aggregates/joins — each step's frame is
    one row per surviving user, so the chain SHRINKS monotonically;
    no windows, no self-joins on the raw stream beyond the user-keyed
    equi-joins Spark shuffles once per step."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_step1_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_step2_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_step3_purchase"))
    return nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))


# ----------------------------------------------------------------------
# Lead-lag cross-correlation
# ----------------------------------------------------------------------

XCORR_MAX_LAG = 7


@register(
    "leadlag_crosscorr",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    x AS (SELECT d, y AS xv FROM daily WHERE event_type = 'click'),
    yy AS (SELECT d, y AS yv FROM daily WHERE event_type = 'purchase'),
    lags AS (SELECT unnest(range(-{XCORR_MAX_LAG}, {XCORR_MAX_LAG + 1}))
                    AS lag),
    m AS (
      SELECT l.lag, x.xv, yy.yv
      FROM lags l
      JOIN x ON TRUE
      JOIN yy ON yy.d = x.d + CAST(l.lag AS INTEGER)
    ),
    s AS (
      SELECT lag, count(*) AS n,
             CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
             CAST(sum(xv * xv) AS BIGINT) AS sxx,
             CAST(sum(yv * yv) AS BIGINT) AS syy,
             CAST(sum(xv * yv) AS BIGINT) AS sxy
      FROM m GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN round((n * sxy - sx * sy)
                           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * (n * syy - sy * sy)), 6)
                END AS r
    FROM s
    """,
)
def leadlag_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson cross-correlation between daily click counts x(d) and
    daily purchase counts y(d + lag) for lags −7..+7. A positive-lag
    peak means clicks LEAD purchases by that many days — the check an
    attribution model's assumed direction rests on.

    Scale: the stream collapses to |types|×|days| rows first; the lag
    expansion is a 15-row broadcast against the collapsed series, and
    every moment is an exact int64 sum, so r is a single deterministic
    float expression per lag."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    x = daily.where(F.col("event_type") == "click").select(
        "d", F.col("y").alias("xv")
    )
    yy = daily.where(F.col("event_type") == "purchase").select(
        F.col("d").alias("dy"), F.col("y").alias("yv")
    )
    lags = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(k) for k in range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1)])
        ).alias("lag")
    )
    m = (
        x.crossJoin(F.broadcast(lags))
        .withColumn("dy", F.date_add("d", F.col("lag")))
        .join(yy, "dy")
    )
    s = m.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xv").cast("bigint").alias("sx"),
        F.sum("yv").cast("bigint").alias("sy"),
        F.sum(F.col("xv") * F.col("xv")).cast("bigint").alias("sxx"),
        F.sum(F.col("yv") * F.col("yv")).cast("bigint").alias("syy"),
        F.sum(F.col("xv") * F.col("yv")).cast("bigint").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / F.sqrt(vx.cast("double") * vy), 6),
        ).alias("r"),
    )


# ----------------------------------------------------------------------
# Difference-in-differences
# ----------------------------------------------------------------------


@register(
    "diff_in_diff",
    """
    WITH span AS (
      SELECT CAST((epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS BIGINT) AS mid_us
      FROM events
    ),
    base AS (
      SELECT user_id % 2 AS treated,
             CASE WHEN epoch_us(ts) >= (SELECT mid_us FROM span)
                  THEN 1 ELSE 0 END AS post,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    cell AS (
      SELECT treated, post, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
      FROM base GROUP BY 1, 2
    ),
    wide AS (
      SELECT max(CASE WHEN treated = 1 AND post = 1 THEN s * 1.0 / n END) AS y11,
             max(CASE WHEN treated = 1 AND post = 0 THEN s * 1.0 / n END) AS y10,
             max(CASE WHEN treated = 0 AND post = 1 THEN s * 1.0 / n END) AS y01,
             max(CASE WHEN treated = 0 AND post = 0 THEN s * 1.0 / n END) AS y00,
             CAST(sum(n) AS BIGINT) AS n_events
      FROM cell
    )
    SELECT n_events,
           round(y11 / 100.0, 6) AS treated_post,
           round(y10 / 100.0, 6) AS treated_pre,
           round(y01 / 100.0, 6) AS control_post,
           round(y00 / 100.0, 6) AS control_pre,
           round(((y11 - y10) - (y01 - y00)) / 100.0, 6) AS did_estimate
    FROM wide
    """,
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences point estimate of mean event value:
    even/odd user cohorts × pre/post the time-span midpoint. With an
    arbitrary split the estimate should hover near 0 — the A/A
    placebo run every DiD deployment does before trusting the design
    on a real rollout.

    Scale: one map-side-combined 4-cell aggregate over the events
    scan; the estimate is arithmetic on 4 exact integer-cents sums."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    span = ev.agg(
        F.expr(
            "CAST((unix_micros(CAST(min(ts) AS TIMESTAMP))"
            " + unix_micros(CAST(max(ts) AS TIMESTAMP))) div 2 AS BIGINT)"
        ).alias("mid_us")
    )
    base = ev.crossJoin(F.broadcast(span)).select(
        (F.col("user_id") % 2).alias("treated"),
        F.when(us >= F.col("mid_us"), 1).otherwise(0).alias("post"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    cell = base.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").cast("bigint").alias("s")
    )

    def m(t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("s") * 1.0 / F.col("n"),
            )
        )

    wide = cell.agg(
        m(1, 1).alias("y11"),
        m(1, 0).alias("y10"),
        m(0, 1).alias("y01"),
        m(0, 0).alias("y00"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    return wide.select(
        "n_events",
        F.round(F.col("y11") / 100.0, 6).alias("treated_post"),
        F.round(F.col("y10") / 100.0, 6).alias("treated_pre"),
        F.round(F.col("y01") / 100.0, 6).alias("control_post"),
        F.round(F.col("y00") / 100.0, 6).alias("control_pre"),
        F.round(
            ((F.col("y11") - F.col("y10")) - (F.col("y01") - F.col("y00"))) / 100.0, 6
        ).alias("did_estimate"),
    )


# ----------------------------------------------------------------------
# OHLC hourly candles
# ----------------------------------------------------------------------


@register(
    "ohlc_hourly",
    """
    WITH base AS (
      SELECT event_type,
             strftime(to_timestamp(floor(epoch(ts) / 3600) * 3600)::TIMESTAMP,
                      '%Y-%m-%d %H:%M:%S') AS hour_start,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             ts, event_id
      FROM events
    ),
    ranked AS (
      SELECT event_type, hour_start, cents,
             row_number() OVER (PARTITION BY event_type, hour_start
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, hour_start
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM base
    )
    SELECT event_type, hour_start,
           count(*) AS n_events,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents
    FROM ranked GROUP BY event_type, hour_start
    """,
)
def ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candles of event value per (hour, type): open/close are
    the first/last rows under the TOTAL (ts, event_id) order (a plain
    first()/last() would be tie- and partition-order-dependent);
    high/low are plain extremes. Prices are exact integer cents.

    Scale: both rank windows and the aggregate partition by
    (event_type, hour) — the natural time-bucket key with bounded
    rows per bucket; one shuffle serves all of it."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_format(
        F.timestamp_seconds(
            F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1e6 / 3600) * 3600
        ),
        "yyyy-MM-dd HH:mm:ss",
    )
    base = ev.select(
        "event_type",
        hour.alias("hour_start"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint").alias("cents"),
        "ts",
        "event_id",
    )
    wa = Window.partitionBy("event_type", "hour_start").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hour_start").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = base.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return ranked.groupBy("event_type", "hour_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("rn_a") == 1, F.col("cents")))
        .cast("bigint")
        .alias("open_cents"),
        F.max("cents").cast("bigint").alias("high_cents"),
        F.min("cents").cast("bigint").alias("low_cents"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents")))
        .cast("bigint")
        .alias("close_cents"),
    )


# ----------------------------------------------------------------------
# Bollinger-band breaches on daily counts
# ----------------------------------------------------------------------

BOLL_WINDOW = 7  # trailing days, excluding the current day


BOLL_K = 2.0


@register(
    "bollinger_breaches",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    win AS (
      SELECT c.event_type, c.d, c.y,
             count(p.y) AS nw,
             CAST(sum(p.y) AS BIGINT) AS sw,
             CAST(sum(p.y * p.y) AS BIGINT) AS sw2
      FROM daily c
      JOIN daily p ON p.event_type = c.event_type
                  AND p.d >= c.d - {BOLL_WINDOW} AND p.d < c.d
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT event_type, y, nw, sw, sw2,
             sw * 1.0 / nw AS mu,
             sqrt((sw2 - (CAST(sw AS DOUBLE) * sw) / nw) / nw) AS sigma
      FROM win WHERE nw = {BOLL_WINDOW}
    )
    SELECT event_type,
           count(*) AS n_days_scored,
           CAST(sum(CASE WHEN y > mu + {BOLL_K} * sigma THEN 1 ELSE 0 END)
                AS BIGINT) AS n_upper_breaches,
           CAST(sum(CASE WHEN y < mu - {BOLL_K} * sigma THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lower_breaches
    FROM scored GROUP BY event_type
    """,
)
def bollinger_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band anomaly screen on daily event counts: a day
    breaches when its count leaves the trailing-7-day mean ± 2σ band
    (window excludes the current day, so a spike can't suppress its
    own alarm). Mean/σ come from exact int64 window sums via a
    date-range self-join (gap-proof, unlike row-offset frames), and
    the breach tests are strict inequalities on identically-computed
    doubles.

    Scale: the stream collapses to |types|×|days| first; the trailing
    window is a bounded date-range self-join on that collapsed table
    (≤7 partners per row)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    p = daily.select(
        "event_type", F.col("d").alias("pd"), F.col("y").alias("py")
    )
    win = (
        daily.join(p, "event_type")
        .where(
            (F.col("pd") >= F.date_sub("d", BOLL_WINDOW)) & (F.col("pd") < F.col("d"))
        )
        .groupBy("event_type", "d", "y")
        .agg(
            F.count("py").alias("nw"),
            F.sum("py").cast("bigint").alias("sw"),
            F.sum(F.col("py") * F.col("py")).cast("bigint").alias("sw2"),
        )
        .where(F.col("nw") == BOLL_WINDOW)
    )
    mu = F.col("sw") * 1.0 / F.col("nw")
    sigma = F.sqrt(
        (F.col("sw2") - (F.col("sw").cast("double") * F.col("sw")) / F.col("nw"))
        / F.col("nw")
    )
    return win.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum(F.when(F.col("y") > mu + BOLL_K * sigma, 1).otherwise(0))
        .cast("bigint")
        .alias("n_upper_breaches"),
        F.sum(F.when(F.col("y") < mu - BOLL_K * sigma, 1).otherwise(0))
        .cast("bigint")
        .alias("n_lower_breaches"),
    )


# ----------------------------------------------------------------------
# Top 3-event session paths
# ----------------------------------------------------------------------

PATH_TOP = 20


SESSION_GAP_S = 1800


@register(
    "top_event_paths",
    f"""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                     > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts, event_id,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS sid
      FROM seq
    ),
    tri AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w2 AS e2,
             lead(event_type, 2) OVER w2 AS e3,
             lead(sid, 2) OVER w2 AS sid3, sid
      FROM sess
      WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT e1 || ' -> ' || e2 || ' -> ' || e3 AS path, count(*) AS n
      FROM tri WHERE e3 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n FROM paths ORDER BY n DESC, path LIMIT {PATH_TOP}
    """,
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 3-event paths within sessions (1800 s inactivity gap):
    sessionize with the gap cumsum, slide a length-3 window inside
    each session (leads partitioned by (user, session), so a path can
    never straddle a session boundary), count, TakeOrdered with the
    (n DESC, path) deterministic tie-break.

    Scale: both windows partition by user (and session) — millions of
    small independent partitions; path counts collapse to ≤|types|³
    rows before the top-k cut."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s_now = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0))
    s_prev = F.floor(
        F.unix_micros(F.lag("ts").over(w).cast("timestamp")) / F.lit(1000000.0)
    )
    seq = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull() | ((s_now - s_prev) > SESSION_GAP_S), 1
        ).otherwise(0),
    )
    sess = seq.withColumn("sid", F.sum("new_sess").over(w))
    w2 = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    tri = sess.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w2).alias("e2"),
        F.lead("event_type", 2).over(w2).alias("e3"),
    ).where(F.col("e3").isNotNull())
    paths = tri.groupBy(
        F.concat_ws(" -> ", "e1", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    return paths.orderBy(F.col("n").desc(), "path").limit(PATH_TOP)


# ----------------------------------------------------------------------
# Conditional entropy / perplexity of the next-event chain
# ----------------------------------------------------------------------


@register(
    "transition_entropy",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM trans),
    rowt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS nr
             FROM trans GROUP BY 1),
    units AS (
      SELECT CAST(sum(t.n * CAST(floor(ln(t.n * 1.0 / r.nr) * 1000000.0 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS u
      FROM trans t JOIN rowt r USING (prev_type)
    )
    SELECT tot.nt AS n_transitions,
           round(-(CAST(u AS DOUBLE) / 1000000.0) / tot.nt, 6)
             AS cond_entropy_nats,
           round(exp(-(CAST(u AS DOUBLE) / 1000000.0) / tot.nt), 4)
             AS perplexity
    FROM units CROSS JOIN tot
    """,
)
def transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next|prev) = −Σ p(prev,next)·ln p(next|prev)
    of the user event chain, and its perplexity (the effective number
    of next-event choices) — the single predictability number behind
    the `event_transitions` matrix. Quantized-ln integer units make
    the weighted sum exact; only the final normalization and exp are
    floats.

    Scale: the lag window partitions by user; everything after the
    |types|²-row transition count is dims-sized. Round 11 (guide
    §1.2, the event_transitions fix): the plan is LINEAR — row totals
    ride a window SUM over the tiny transition frame and the grand
    total folds into the same final aggregate, so the events scan →
    lag window → count pipeline appears once (the old
    rowt/tot/units branches executed it three times)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wr = Window.partitionBy("prev_type")
    units = trans.withColumn(
        "nr", F.sum("n").over(wr).cast("bigint")
    ).agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(
            F.col("n")
            * F.floor(
                F.log(F.col("n") * 1.0 / F.col("nr")) * 1000000.0 + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("u"),
    )
    h = -(F.col("u").cast("double") / 1000000.0) / F.col("nt")
    return units.select(
        F.col("nt").alias("n_transitions"),
        F.round(h, 6).alias("cond_entropy_nats"),
        F.round(F.exp(h), 4).alias("perplexity"),
    )


# ----------------------------------------------------------------------
# Day-k return curve
# ----------------------------------------------------------------------

RETURN_MAX_DAY = 29


@register(
    "day_k_return_curve",
    f"""
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    n AS (SELECT count(*) AS n_users FROM f),
    act AS (
      SELECT DISTINCT e.user_id,
             datediff('day', f.d0, CAST(e.ts AS DATE)) AS k
      FROM events e JOIN f ON f.user_id = e.user_id
    ),
    grid AS (SELECT unnest(range({RETURN_MAX_DAY + 1})) AS k),
    ret AS (
      SELECT k, count(*) AS n_active FROM act
      WHERE k <= {RETURN_MAX_DAY} GROUP BY k
    )
    SELECT CAST(g.k AS BIGINT) AS day_k,
           CAST(coalesce(r.n_active, 0) AS BIGINT) AS n_active,
           round(coalesce(r.n_active, 0) * 1.0 / n.n_users, 6) AS return_rate
    FROM grid g LEFT JOIN ret r ON r.k = g.k CROSS JOIN n
    """,
)
def day_k_return_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic day-k retention: share of users active exactly k days
    after their own first event, k = 0..29 (day_0 is 1.0 by
    definition — a cheap self-check the pytest pins).

    Scale: first-event dates are one groupBy(user); the activity join
    is user-keyed; distinct (user, k) collapses before the 30-row
    curve aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    f = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    n = f.agg(F.count(F.lit(1)).alias("n_users"))
    act = (
        ev.join(f, "user_id")
        .select("user_id", F.datediff("d", "d0").alias("k"))
        .where(F.col("k") <= RETURN_MAX_DAY)
        .distinct()
    )
    ret = act.groupBy("k").agg(F.count(F.lit(1)).alias("n_active"))
    grid = spark.range(RETURN_MAX_DAY + 1).select(F.col("id").alias("k"))
    return (
        grid.join(ret, "k", "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("k").cast("bigint").alias("day_k"),
            F.coalesce("n_active", F.lit(0)).cast("bigint").alias("n_active"),
            F.round(
                F.coalesce("n_active", F.lit(0)) * 1.0 / F.col("n_users"), 6
            ).alias("return_rate"),
        )
    )
