"""Event/business-analytics family: windowed event rollups, as-of joins,
sessionization, funnels, retention cohorts, SCD2, growth accounting,
time-series smoothing/forecast/resampling, RFM, Pareto ABC, market
basket, SLA percentiles, and mix-shift reports.

Split from plans/pipeline.py (round 11) — registration names, oracles,
and SQL byte-identical to the pre-split module.
"""


from __future__ import annotations

from pyspark.sql import functions as F

from bdt_spark.plans.registry import dsum, query, sql_query
from bdt_spark.sources.io import load_fixture_tables


# ---------------------------------------------------------------------------
# event-time windows (batch form; streaming mirror in bdt_spark/streaming)
# ---------------------------------------------------------------------------

sql_query(
    "events_tumbling_window",
    f"""
    SELECT window.start AS win_start, event_type,
           COUNT(*) AS n_events, {dsum('value', 'total_value')}
    FROM events
    WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    GROUP BY window(ts, '15 minutes'), event_type
    ORDER BY win_start, event_type
    """,
    oracle=f"""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS win_start, event_type,
           COUNT(*) AS n_events, {dsum('value', 'total_value')}
    FROM events
    WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
    tags=("events", "window", "tumbling"),
    doc="15-min tumbling event-time windows (batch form of the streaming "
    "windowed agg in bdt_spark/streaming).",
)


sql_query(
    "events_hopping_window",
    f"""
    SELECT window.start AS win_start,
           COUNT(*) AS n_events, {dsum('value', 'total_value')}
    FROM events
    WHERE ts < TIMESTAMP '2024-01-01 08:00:00'
    GROUP BY window(ts, '30 minutes', '15 minutes')
    ORDER BY win_start
    """,
    oracle=f"""
    WITH hops AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS win_start, value
      FROM events WHERE ts < TIMESTAMP '2024-01-01 08:00:00'
      UNION ALL
      SELECT time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes', value
      FROM events WHERE ts < TIMESTAMP '2024-01-01 08:00:00'
    )
    SELECT win_start, COUNT(*) AS n_events, {dsum('value', 'total_value')}
    FROM hops
    GROUP BY win_start
    ORDER BY win_start
    """,
    tags=("events", "window", "hopping"),
    doc="30-min windows hopping every 15 min; oracle expands each event "
    "into its two overlapping hops.",
)


sql_query(
    "events_session_window",
    f"""
    SELECT user_id, session_window.start AS sess_start,
           COUNT(*) AS n_events, {dsum('value', 'total_value')}
    FROM events
    WHERE user_id < 10 AND ts < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY session_window(ts, '1 hour'), user_id
    ORDER BY user_id, sess_start
    """,
    oracle=f"""
    WITH marks AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL '1 hour'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE user_id < 10 AND ts < TIMESTAMP '2024-01-08 00:00:00'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marks
    )
    SELECT user_id, MIN(ts) AS sess_start,
           COUNT(*) AS n_events, {dsum('value', 'total_value')}
    FROM sess
    GROUP BY user_id, sess_id
    ORDER BY user_id, sess_start
    """,
    tags=("events", "window", "session"),
    doc="1-hour-gap session windows per user (Spark session_window); oracle "
    "derives sessions with the gaps-and-islands pattern.",
)


# ---------------------------------------------------------------------------
# As-of join + time-range rolling windows (time-series operators)
# ---------------------------------------------------------------------------


@query(
    "events_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           s.ts AS login_ts, s.value AS login_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase'
            AND user_id < 20) p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    ORDER BY p.event_id
    """,
    tags=("events", "asof-join", "time-series"),
    doc="Point-in-time join (operators/asof.py): each purchase matched to "
    "the user's most recent signup at-or-before it. Oracle is DuckDB's "
    "native ASOF LEFT JOIN; Spark side is the union + carry-forward-window "
    "composition (one key shuffle + sort, no range explosion).",
)
def events_asof_join(spark, sf_dir):
    from bdt_spark.operators.asof import asof_join

    t = load_fixture_tables(spark, sf_dir)
    ev = t["events"]
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") < 20)
    ).select("user_id", "ts", "event_id")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    out = asof_join(purchases, signups, on="user_id", suffix="_s")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_s").alias("login_ts"),
        F.col("value_s").alias("login_value"),
    ).orderBy("event_id")


sql_query(
    "events_rolling_time_window",
    f"""
    SELECT user_id, ts,
           COUNT(*) OVER w AS n_last_hour,
           {'CAST(SUM(CAST(value AS DECIMAL(30,8))) OVER w AS DOUBLE)'} AS sum_last_hour
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts
    """,
    tags=("events", "window", "time-series"),
    doc="Per-user rolling 1-hour aggregates via a time-RANGE window frame — "
    "partitioned by user so state stays bounded per key at any scale.",
)


sql_query(
    "events_sessionize_gaps_islands",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           ROUND(SUM(value), 6) AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           ROUND(SUM(value), 6) AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("events", "sessionization", "window"),
    doc="Gaps-and-islands sessionization (30-min inactivity): lag-compare "
    "-> running-sum session ids -> per-session stats. The window-chain "
    "alternative to session_window; one shuffle on user_id serves both "
    "windows and the final agg.",
)


sql_query(
    "events_ordered_funnel",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events
      GROUP BY user_id
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS users_total,
      CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS stage_view,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
               THEN 1 ELSE 0 END) AS BIGINT) AS stage_click_after_view,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_buy > t_click
               THEN 1 ELSE 0 END) AS BIGINT) AS stage_full_funnel,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_buy > t_click
                     AND t_buy <= t_view + INTERVAL 24 HOUR
               THEN 1 ELSE 0 END) AS BIGINT) AS funnel_within_24h
    FROM firsts
    """,
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events
      GROUP BY user_id
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS users_total,
      CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS stage_view,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
               THEN 1 ELSE 0 END) AS BIGINT) AS stage_click_after_view,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_buy > t_click
               THEN 1 ELSE 0 END) AS BIGINT) AS stage_full_funnel,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_buy > t_click
                     AND t_buy <= t_view + INTERVAL 24 HOUR
               THEN 1 ELSE 0 END) AS BIGINT) AS funnel_within_24h
    FROM firsts
    """,
    tags=("events", "funnel", "analytics"),
    doc="Ordered conversion funnel (view -> click -> purchase, with a "
    "24h completion bound): conditional MIN pivot per user then staged "
    "counts — one user_id shuffle, no joins, NULL comparisons fall out "
    "of the funnel naturally.",
)


def _retention_cohort_sql(dialect: str) -> str:
    ddiff = (
        "DATEDIFF(d, first_day)"
        if dialect == "spark"
        else "DATE_DIFF('day', first_day, d)"
    )
    return f"""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(d) AS first_day FROM days GROUP BY user_id
    ),
    offsets AS (
      SELECT DISTINCT days.user_id, firsts.first_day,
             CAST(FLOOR({ddiff} / 7.0) AS INT) AS week_offset
      FROM days JOIN firsts ON days.user_id = firsts.user_id
    )
    SELECT CAST(first_day AS TIMESTAMP) AS cohort_day, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM offsets
    GROUP BY first_day, week_offset
    ORDER BY cohort_day, week_offset
    """


sql_query(
    "events_user_retention_cohort",
    _retention_cohort_sql("spark"),
    oracle=_retention_cohort_sql("duck"),
    tags=("events", "retention", "analytics"),
    doc="Cohort retention: users grouped by first-active day, counted "
    "once per (cohort, week-offset) they return in — the standard "
    "retention triangle. Distinct (user, day) first so per-user event "
    "volume never inflates the shuffle; then one user_id-keyed MIN, "
    "one join (user-keyed, co-partitioned with the distinct), one "
    "cohort aggregate. Dialect-split only on DATEDIFF argument order.",
)


def _resample_ffill_sql(dialect: str) -> str:
    if dialect == "spark":
        spine = "explode(sequence(d0, d1, interval 1 day))"
        lastv = "LAST_VALUE(dy.day_value) IGNORE NULLS"
    else:
        spine = "CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)"
        lastv = "LAST_VALUE(dy.day_value IGNORE NULLS)"
    return f"""
    WITH days AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE) AS day_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    spans AS (
      SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM days GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, {spine} AS d FROM spans
    ),
    filled AS (
      SELECT s.user_id, s.d, dy.day_value,
             {lastv} OVER (PARTITION BY s.user_id ORDER BY s.d) AS ffill,
             CASE WHEN dy.day_value IS NULL THEN 1 ELSE 0 END AS gap
      FROM spine s
      LEFT JOIN days dy ON s.user_id = dy.user_id AND s.d = dy.d
    )
    SELECT user_id, CAST(d AS TIMESTAMP) AS day_ts,
           ROUND(ffill, 2) AS filled_value, CAST(gap AS INT) AS is_gap
    FROM filled WHERE user_id < 20 ORDER BY user_id, day_ts
    """


sql_query(
    "events_resample_forward_fill",
    _resample_ffill_sql("spark"),
    oracle=_resample_ffill_sql("duck"),
    tags=("events", "timeseries", "resample", "gap-fill"),
    doc="Time-series resampling to a daily grain with forward-fill gap "
    "repair — the feature-engineering step that turns an irregular event "
    "stream into a dense per-entity series (as-of state per day). The "
    "spine is generated PER USER over that user's own active range "
    "(sequence/generate_series explode — spine rows are bounded by "
    "users x span days, linear in users, never a global calendar cross "
    "join), the LEFT JOIN back is co-keyed with the day aggregate's "
    "shuffle, and the fill is one LAST_VALUE IGNORE NULLS window per "
    "user. Day sums decimal-pinned; DATE cast to TIMESTAMP in the final "
    "projection (dialect repr divergence); is_gap marks which rows are "
    "carried values. Dialect split: sequence+explode / generate_series+"
    "unnest and the two engines' IGNORE NULLS placements. Output "
    "bounded to user_id < 20.",
)


def _skew_report_sql(dialect: str) -> str:
    # Exact p50/p99 of the per-key count distribution. Spark's
    # percentile() and DuckDB's quantile_cont() both use the standard
    # linear-interpolation estimator over sorted values; operands are
    # exact BIGINTs so the interpolation arithmetic is bit-identical.
    if dialect == "spark":
        p50 = "percentile(cnt, 0.5)"
        p99 = "percentile(cnt, 0.99)"
    else:
        p50 = "quantile_cont(cnt, 0.5)"
        p99 = "quantile_cont(cnt, 0.99)"
    return f"""
    WITH per_key AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt,
             CAST({p50} AS DOUBLE) AS p50_cnt,
             CAST({p99} AS DOUBLE) AS p99_cnt
      FROM per_key
    ),
    hot AS (
      SELECT user_id, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rk
      FROM per_key
    )
    SELECT h.rk AS hot_rank, h.user_id AS hot_key,
           h.cnt AS hot_cnt,
           s.n_keys, s.n_rows, s.max_cnt, s.p50_cnt, s.p99_cnt,
           ROUND(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows, 6)
             AS skew_ratio,
           CAST(CEIL(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows)
                AS BIGINT) AS suggested_salt
    FROM hot h CROSS JOIN stats s
    WHERE h.rk <= 5
    ORDER BY hot_rank
    """


sql_query(
    "events_key_skew_report",
    _skew_report_sql("spark"),
    oracle=_skew_report_sql("duck"),
    tags=("quality", "skew", "diagnostics"),
    doc="Shuffle-key skew diagnosis — the report you run BEFORE a big "
    "join/agg on a 100 TB table to decide whether the key needs "
    "salting. One partial+final count per key (map-side combine makes "
    "the shuffle linear in distinct keys, not rows), then a 1-row "
    "stats fold and a top-5 hottest-key window over the tiny per-key "
    "table. skew_ratio = max/mean is exactly the multiple by which the "
    "hottest reducer exceeds the average at any partition count whose "
    "hash spreads keys evenly; suggested_salt = ceil(ratio) is the "
    "salting fan-out that levels it. p50/p99 of the count distribution "
    "separate 'one pathological key' from 'heavy tail everywhere' "
    "(different fixes: broadcast-isolate vs AQE skew split). Dialect "
    "split: percentile vs quantile_cont (same interpolation on exact "
    "BIGINT operands).",
)


sql_query(
    "orders_scd2_status_intervals",
    """
    WITH h AS (
      SELECT o_custkey, o_orderstatus AS status, o_orderdate AS d,
             o_orderkey,
             LAG(o_orderstatus) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders WHERE o_custkey % 50 = 0
    ),
    changes AS (
      SELECT o_custkey, status, d,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY d, o_orderkey) AS seq
      FROM h WHERE prev IS NULL OR prev <> status
    )
    SELECT o_custkey, status,
           CAST(d AS TIMESTAMP) AS valid_from,
           CAST(LEAD(d) OVER (
             PARTITION BY o_custkey ORDER BY seq) AS TIMESTAMP)
             AS valid_to,
           CAST(LEAD(d) OVER (PARTITION BY o_custkey ORDER BY seq)
                IS NULL AS BOOLEAN) AS is_current,
           CAST(seq AS BIGINT) AS version_n
    FROM changes
    ORDER BY o_custkey, version_n
    """,
    tags=("events", "scd2", "dimension", "cdc"),
    doc="Type-2 slowly-changing-dimension build from an append-only "
    "history — the standard warehouse pattern for 'what was this "
    "entity's state AT time t'. Consecutive same-state rows collapse "
    "via one LAG pass (change detection), then LEAD converts change "
    "points into [valid_from, valid_to) intervals with a NULL-open "
    "current row. Both windows share ONE partitioning (o_custkey), so "
    "the whole build is a single shuffle of the filtered history — at "
    "100 TB the per-entity history is rarely more than a few KB, so "
    "the window state stays in-memory per key. Deterministic under "
    "same-day ties: every window orders by (date, o_orderkey) and the "
    "interval sequencing uses the change's ROW_NUMBER, never the bare "
    "date. DATE-typed outputs cast to TIMESTAMP (dialect repr). "
    "Output bounded to the custkey%50 stratum, filtered BEFORE the "
    "shuffle (predicate pushdown keeps the sample cheap at any scale).",
)


def _trend_forecast_sql(dialect: str) -> str:
    if dialect == "spark":
        dayix = "DATEDIFF(CAST(ts AS DATE), DATE '2024-01-01')"
    else:
        dayix = "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE))"
    return f"""
    WITH daily AS (
      SELECT event_type, CAST({dayix} AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, CAST({dayix} AS BIGINT)
    ),
    fit AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(MAX(x) AS BIGINT) AS last_x
      FROM daily GROUP BY event_type
    ),
    coefs AS (
      SELECT event_type, n, last_x,
             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)
             END AS slope,
             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE (CAST(sy AS DOUBLE)
                        - CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n
             END AS icept
      FROM fit
    )
    SELECT event_type, n AS n_days,
           ROUND(slope, 6) AS slope_per_day,
           ROUND(icept, 6) AS intercept,
           ROUND(icept + slope * (last_x + 7), 6) AS forecast_plus7d
    FROM coefs
    ORDER BY event_type
    """


sql_query(
    "events_linear_trend_forecast",
    _trend_forecast_sql("spark"),
    oracle=_trend_forecast_sql("duck"),
    tags=("events", "timeseries", "regression", "forecast"),
    doc="Per-key least-squares trend + linear forecast over the daily "
    "event-count series — capacity-planning over the event stream "
    "('at this growth, where is volume in a week?'). The normal "
    "equations are assembled from INTEGER power sums (x = day index, "
    "y = exact daily count, so sx/sy/sxy/sxx are all exact BIGINTs "
    "whose map-side partial sums commute) — slope and intercept then "
    "come from a handful of IEEE double divisions, bit-identical in "
    "both engines with NO decimal pinning needed; engine regr_slope/"
    "regr_intercept are deliberately avoided because their internal "
    "accumulation order is unspecified. Two narrow shuffles: "
    "(event_type, day) count, then per-event_type fold of 6 numbers. "
    "At 100 TB the daily rollup is the only corpus-sized stage. "
    "Dialect split: DATEDIFF argument order vs DATE_DIFF('day', ...).",
)


def _anomaly_mad_sql(dialect: str) -> str:
    med = "PERCENTILE({}, 0.5)" if dialect == "spark" else "QUANTILE_CONT({}, 0.5)"
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    med AS (
      SELECT event_type, CAST({med.format('cnt')} AS DOUBLE) AS med
      FROM daily GROUP BY event_type
    ),
    mad AS (
      SELECT d.event_type,
             CAST({med.format('ABS(d.cnt - m.med)')} AS DOUBLE) AS mad
      FROM daily d JOIN med m ON d.event_type = m.event_type
      GROUP BY d.event_type
    )
    SELECT d.event_type, CAST(d.d AS TIMESTAMP) AS day_ts, d.cnt,
           m.med, a.mad,
           CASE WHEN a.mad = 0 THEN NULL
                ELSE ROUND((d.cnt - m.med) / (1.4826 * a.mad), 6)
           END AS robust_z,
           CASE WHEN a.mad = 0 THEN CAST(NULL AS BOOLEAN)
                ELSE CAST(ABS(d.cnt - m.med) > 3 * 1.4826 * a.mad
                          AS BOOLEAN)
           END AS is_anomaly
    FROM daily d
    JOIN med m ON d.event_type = m.event_type
    JOIN mad a ON d.event_type = a.event_type
    ORDER BY d.event_type, day_ts
    """


# r16 (guide §2.4): the daily CTE inlines into FOUR consumers (med,
# mad, and two final-join legs) — four full events scans + four
# corpus aggregations in the executed plan, for a rollup that is only
# keys x days rows. Above the gate the Spark arm materializes the
# rollup once and the med/mad/scoring tail reads the cache (events
# scans 4 -> 1); below it the bare inline plan runs (the persist's
# fixed cost exceeds three recomputes of a small scan).
_ANOMALY_DAILY_SPARK = """
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
"""


def _anomaly_tail_spark(src: str) -> str:
    return f"""
    WITH med AS (
      SELECT event_type, CAST(PERCENTILE(cnt, 0.5) AS DOUBLE) AS med
      FROM {src} GROUP BY event_type
    ),
    mad AS (
      SELECT d.event_type,
             CAST(PERCENTILE(ABS(d.cnt - m.med), 0.5) AS DOUBLE) AS mad
      FROM {src} d JOIN med m ON d.event_type = m.event_type
      GROUP BY d.event_type
    )
    SELECT d.event_type, CAST(d.d AS TIMESTAMP) AS day_ts, d.cnt,
           m.med, a.mad,
           CASE WHEN a.mad = 0 THEN NULL
                ELSE ROUND((d.cnt - m.med) / (1.4826 * a.mad), 6)
           END AS robust_z,
           CASE WHEN a.mad = 0 THEN CAST(NULL AS BOOLEAN)
                ELSE CAST(ABS(d.cnt - m.med) > 3 * 1.4826 * a.mad
                          AS BOOLEAN)
           END AS is_anomaly
    FROM {src} d
    JOIN med m ON d.event_type = m.event_type
    JOIN mad a ON d.event_type = a.event_type
    ORDER BY d.event_type, day_ts
    """


# Interleaved 3-rep A/B: the persist arm measured SLOWER at both local
# points (sf0.1/4.3 MB: 0.33 vs 0.34 s; sf10/34 MB: 0.47 vs 0.79 s) —
# four map-side-partial aggregations of a small scan cost less than
# one persist+count round trip. The crossover is above the local
# regime; the arm exists for corpus-scale I/O (four full events scans
# -> one), the same fixed-cost-vs-proportional-saving doctrine as
# _INC_EMB_EXCHANGE_MIN_BYTES. Executed above the gate on a 1.17 GB
# / 350M-row events shard
# (bench_results/r16_probes/anomaly_events_shard.json): rows
# identical, gated warm 2.7 s vs bare 3.0 s.
_ANOMALY_MATERIALIZE_MIN_BYTES = 1 << 30


@query(
    "events_anomaly_robust_zscore",
    oracle=_anomaly_mad_sql("duck"),
    tags=("events", "timeseries", "anomaly", "robust-stats"),
    doc="Robust anomaly scoring of the daily event-volume series — "
    "median/MAD instead of mean/stddev, so a single spiky day cannot "
    "poison its own detection threshold (the classic failure of "
    "3-sigma on operational series). Three passes over the tiny daily "
    "rollup (the ONLY corpus-sized stage is the first day-count "
    "aggregate, partial map-side): per-key median, then median of "
    "absolute deviations, then the scored join — at 100 TB the daily "
    "table is keys x days rows, so the percentile folds are "
    "negligible. robust_z = (x - med) / (1.4826 * MAD) is the "
    "consistency-scaled score (1.4826 makes MAD sigma-consistent "
    "under normality); |z| > 3 flags. Exact cross-engine: counts are "
    "BIGINTs, both engines' percentile/quantile_cont use the same "
    "linear interpolation, and the scoring arithmetic is IEEE-"
    "deterministic. Dialect split: PERCENTILE vs QUANTILE_CONT. "
    "r16 (guide §2.4): above _ANOMALY_MATERIALIZE_MIN_BYTES the "
    "Spark arm persists the daily rollup once (events scans 4 -> 1); "
    "identical rows either way, oracle text unchanged.",
)
def events_anomaly_robust_zscore(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.sources.io import plan_scan_bytes

    load_fixture_tables(spark, sf_dir)
    if plan_scan_bytes(spark.table("events")) < _ANOMALY_MATERIALIZE_MIN_BYTES:
        return spark.sql(_anomaly_mad_sql("spark"))
    daily = spark.sql(_ANOMALY_DAILY_SPARK).persist()
    daily.count()  # eager: 4 consumers in ONE action recompute a lazy cache
    daily.createOrReplaceTempView("__anomaly_daily")
    out = spark.sql(_anomaly_tail_spark("__anomaly_daily"))
    return transfer_ownership(out, daily)


def _twap_sql(dialect: str) -> str:
    if dialect == "spark":
        secs = "CAST(UNIX_MICROS(nxt) - UNIX_MICROS(ts) AS BIGINT) / 1000000.0"
    else:
        secs = "CAST(DATE_DIFF('microsecond', ts, nxt) AS BIGINT) / 1000000.0"
    return f"""
    WITH seq AS (
      SELECT user_id, ts, value,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt
      FROM events WHERE event_type = 'purchase'
    ),
    weighted AS (
      SELECT user_id, value, {secs} AS dt
      FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CASE WHEN SUM(CAST(dt AS DECIMAL(20,6))) = 0 THEN NULL
                ELSE ROUND(
                  CAST(SUM(CAST(value * dt AS DECIMAL(30,10))) AS DOUBLE)
                  / CAST(SUM(CAST(dt AS DECIMAL(20,6))) AS DOUBLE), 6)
           END AS twap,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE)
                 / COUNT(*), 6) AS plain_avg
    FROM weighted
    GROUP BY user_id
    HAVING COUNT(*) >= 5
    ORDER BY user_id
    LIMIT 200
    """


sql_query(
    "events_time_weighted_average",
    _twap_sql("spark"),
    oracle=_twap_sql("duck"),
    tags=("events", "timeseries", "twap"),
    doc="Time-weighted average of an irregularly-sampled per-entity "
    "series — the correct 'average state over the period' when "
    "observations arrive unevenly (a plain AVG over-weights bursty "
    "stretches; TWAP holds each value for the interval until the next "
    "observation, the finance/metering convention). One LEAD window "
    "per user (single shuffle, state = one row), then a per-user fold. "
    "Interval lengths are derived from MICROSECOND integer epoch "
    "diffs — exact BIGINTs in both engines (UNIX_MICROS vs "
    "DATE_DIFF('microsecond')) divided by 1e6, so dt is "
    "IEEE-identical; both weighted sums decimal-pinned. plain_avg "
    "sits alongside to show the bias TWAP corrects.",
)


sql_query(
    "events_daily_growth_accounting",
    """
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    first_seen AS (
      SELECT user_id, MIN(d) AS first_d FROM user_days GROUP BY user_id
    ),
    daily AS (
      SELECT ud.d,
             CAST(COUNT(*) AS BIGINT) AS dau,
             CAST(SUM(CASE WHEN ud.d = fs.first_d THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_users
      FROM user_days ud JOIN first_seen fs ON ud.user_id = fs.user_id
      GROUP BY ud.d
    )
    SELECT CAST(d AS TIMESTAMP) AS day_ts, dau, new_users,
           dau - new_users AS returning_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT)
             AS cumulative_users
    FROM daily
    ORDER BY day_ts
    """,
    tags=("events", "growth", "retention"),
    doc="Growth accounting over the event stream: DAU split into new "
    "vs returning, plus the cumulative distinct-user curve — computed "
    "EXACTLY without any running-distinct state: a user contributes "
    "'new' only on MIN(day), so the cumulative distinct count is just "
    "a running SUM of new_users (the first-touch decomposition). "
    "Shuffle profile: distinct (user, day) partial-aggregates "
    "map-side (per-user event volume never inflates it), first-seen "
    "is a per-user MIN on the SAME key so AQE co-locates, and the "
    "final window runs over days-only rows (30 here; ~3650 for a "
    "decade — always tiny). Common-subset SQL; DATE cast to "
    "TIMESTAMP for cross-engine repr.",
)


_SCD2_CHANGES_SQL = """
      SELECT o_custkey AS k, status, d AS ts, seq FROM (
        SELECT o_custkey, status, d,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, d
                                  ORDER BY seq DESC) AS last_at_ts,
               seq
        FROM (
          SELECT o_custkey, o_orderstatus AS status, o_orderdate AS d,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS seq,
                 LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey)
                   AS prev
          FROM orders WHERE o_custkey % 50 = 0
        ) h WHERE prev IS NULL OR prev <> status
      ) c WHERE last_at_ts = 1
"""


_SCD2_PROBES_SQL = """
      SELECT o.o_custkey AS k, l.l_shipdate AS ts, l.l_orderkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey % 50 = 0 AND l.l_linenumber = 1
"""


sql_query(
    "orders_scd2_asof_lookup",
    f"""
    WITH changes AS ({_SCD2_CHANGES_SQL}),
    probes AS ({_SCD2_PROBES_SQL}),
    tagged AS (
      SELECT k, ts, 0 AS side, seq, status,
             CAST(NULL AS BIGINT) AS l_orderkey
      FROM changes
      UNION ALL
      SELECT k, ts, 1 AS side, CAST(0 AS BIGINT) AS seq,
             CAST(NULL AS STRING) AS status, l_orderkey
      FROM probes
    ),
    carried AS (
      SELECT k, ts, side, l_orderkey,
             LAST_VALUE(status) IGNORE NULLS OVER (
               PARTITION BY k ORDER BY ts, side, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS status_asof
      FROM tagged
    )
    SELECT k AS o_custkey, l_orderkey, CAST(ts AS TIMESTAMP) AS ship_ts,
           status_asof
    FROM carried WHERE side = 1
    ORDER BY o_custkey, l_orderkey
    """,
    oracle=f"""
    WITH changes AS ({_SCD2_CHANGES_SQL}),
    probes AS ({_SCD2_PROBES_SQL})
    SELECT p.k AS o_custkey, p.l_orderkey, CAST(p.ts AS TIMESTAMP) AS ship_ts,
           c.status AS status_asof
    FROM probes p ASOF LEFT JOIN changes c
      ON p.k = c.k AND p.ts >= c.ts
    ORDER BY o_custkey, l_orderkey
    """,
    tags=("events", "scd2", "asof", "temporal-join"),
    doc="Point-in-time lookup against the SCD2 dimension built by "
    "orders_scd2_status_intervals: for each shipment, the customer's "
    "status AS OF the ship date — the warehouse question SCD2 exists "
    "to answer. Spark side is the union + carry-forward window (the "
    "same sort-merge shape as operators/asof.py: one shuffle of "
    "changes+probes on the key, one per-partition sort, state = one "
    "carried value per key — no range join, no interval explosion); "
    "the ORACLE deliberately uses DuckDB's NATIVE ASOF LEFT JOIN, so "
    "two structurally different algorithms must agree row-for-row. "
    "Same-day status flips collapse to the last change of the day "
    "before the lookup (both engines see one change per (key, ts), "
    "removing tie ambiguity); change rows sort before probe rows at "
    "equal ts (ts >= semantics, matching ASOF's p.ts >= c.ts). "
    "Probes pre-filtered to the custkey stratum and linenumber 1, "
    "pushed below the orders join.",
)


def _time_grain_rollup_sql(dialect: str) -> str:
    # Spark spells multi-grain GROUPING SETS over computed columns most
    # robustly via pre-projected grain columns; both engines share that
    # shape. DATE_TRUNC('week') is ISO-Monday in both.
    return """
    WITH g AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_g,
             CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS week_g,
             CAST(DATE_TRUNC('month', ts) AS TIMESTAMP) AS month_g,
             event_type, value
      FROM events
    )
    SELECT CASE WHEN day_g IS NOT NULL THEN 'day'
                WHEN week_g IS NOT NULL THEN 'week'
                ELSE 'month' END AS grain,
           COALESCE(day_g, week_g, month_g) AS bucket_ts,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
             AS total_value
    FROM g
    GROUP BY GROUPING SETS ((day_g, event_type), (week_g, event_type),
                            (month_g, event_type))
    ORDER BY grain, bucket_ts, event_type
    """


sql_query(
    "events_time_grain_rollup",
    _time_grain_rollup_sql("spark"),
    oracle=_time_grain_rollup_sql("duck"),
    tags=("events", "timeseries", "rollup", "grouping-sets"),
    doc="Multi-granularity time rollup in ONE pass — day, ISO-week and "
    "month aggregates of the event stream via GROUPING SETS over "
    "pre-projected grain columns, the warehouse pattern that feeds a "
    "dashboard's zoom levels without three scans (Spark plans one "
    "Expand x3 over the grain columns only — row width stays narrow "
    "because the grains are projected before the aggregate, and the "
    "explosion is 3x the DAILY rollup input, not 3x raw corpus "
    "columns). Grain identified back from which grouping column is "
    "non-NULL (all three grains are non-null expressions, so COALESCE "
    "is unambiguous). Decimal-pinned sums; identical SQL both "
    "engines; buckets already TIMESTAMP so no repr divergence.",
)


def _ewma_sql(dialect: str) -> str:
    if dialect == "spark":
        dayix = "DATEDIFF(CAST(ts AS DATE), DATE '2024-01-01')"
        shift = "SHIFTLEFT(CAST(1 AS BIGINT), CAST(15 - (a.x - b.x) AS INT))"
    else:
        dayix = "DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE))"
        shift = "(CAST(1 AS BIGINT) << CAST(15 - (a.x - b.x) AS INT))"
    return f"""
    WITH daily AS (
      SELECT event_type, CAST({dayix} AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, CAST({dayix} AS BIGINT)
    ),
    weighted AS (
      SELECT a.event_type, a.x, a.y AS raw,
             CAST(SUM(b.y * {shift}) AS BIGINT) AS numer,
             CAST(SUM({shift}) AS BIGINT) AS denom
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type
       AND b.x BETWEEN a.x - 15 AND a.x
      GROUP BY a.event_type, a.x, a.y
    )
    SELECT event_type, x AS day_index, raw,
           ROUND(CAST(numer AS DOUBLE) / denom, 6) AS ewma
    FROM weighted
    ORDER BY event_type, day_index
    """


sql_query(
    "events_ewma_smoothing",
    _ewma_sql("spark"),
    oracle=_ewma_sql("duck"),
    tags=("events", "timeseries", "smoothing", "ewma"),
    doc="Exponentially-weighted moving average (alpha = 1/2, 16-day "
    "horizon) of the daily event series — the low-lag smoother behind "
    "alerting baselines — computed EXACTLY: the geometric weights are "
    "INTEGER powers of two (bit shifts, never POWER(): libm exp/ln "
    "can be a ulp off a true power and engines disagree), so "
    "numerator and the self-normalizing denominator (which also "
    "handles series-start truncation correctly) are exact BIGINTs "
    "down to one final IEEE division. The distance-dependent weight "
    "makes this inexpressible as a plain window SUM; the banded "
    "self-join runs on the DAILY rollup (keys x days rows — tiny at "
    "any corpus scale; the corpus-sized stage is only the day-count "
    "aggregate), bounded at 16 partners per row.",
)


sql_query(
    "events_session_attribution",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_type, event_id,
             CAST(SUM(is_start) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
               AS session_n
      FROM seq
    ),
    entries AS (
      SELECT user_id, session_n, event_type AS entry_channel
      FROM (
        SELECT user_id, session_n, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_n
                                  ORDER BY ts, event_id) AS rn
        FROM sess
      ) f WHERE rn = 1
    )
    SELECT e.entry_channel,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS converting_users,
           CAST(COUNT(*) AS BIGINT) AS attributed_purchases,
           CAST(COUNT(DISTINCT s.user_id || '#' || s.session_n)
                AS BIGINT) AS converting_sessions
    FROM sess s
    JOIN entries e ON s.user_id = e.user_id
                  AND s.session_n = e.session_n
    WHERE s.event_type = 'purchase'
    GROUP BY e.entry_channel
    ORDER BY attributed_purchases DESC, entry_channel
    """,
    tags=("events", "attribution", "sessionization", "funnel"),
    doc="First-touch session attribution: every purchase credits the "
    "event_type that OPENED its session (30-minute inactivity "
    "sessions via the lag/cumsum gaps-and-islands pattern, same "
    "construction events_sessionize_gaps_islands pins) — the "
    "marketing-analytics question 'which entry channel converts'. "
    "All three windows and the entries join share ONE user_id "
    "partitioning, so the whole attribution is a single shuffle of "
    "the event stream plus per-key sorts. Deterministic under "
    "same-timestamp ties (every ordering includes event_id). "
    "Session identity for the distinct count is the composite "
    "user#session string (exact, engine-portable). Common-subset "
    "SQL, oracle is the same text.",
)


_BASKET_ORACLE = """
    WITH basket AS (
      SELECT DISTINCT l_orderkey,
             CAST(l_partkey % 50 AS BIGINT) AS category
      FROM lineitem
    ),
    cat_n AS (
      SELECT category, CAST(COUNT(*) AS BIGINT) AS c
      FROM basket GROUP BY category
    ),
    n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM basket
    ),
    pairs AS (
      SELECT a.category AS cat_a, b.category AS cat_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.category < b.category
      GROUP BY a.category, b.category
      HAVING COUNT(*) >= 10
    )
    SELECT p.cat_a, p.cat_b, p.c_ab, ca.c AS c_a, cb.c AS c_b,
           ROUND(CAST(n.n_orders * p.c_ab AS DOUBLE)
                 / (ca.c * cb.c), 6) AS lift,
           ROUND(CAST(p.c_ab AS DOUBLE) / ca.c, 6) AS confidence_a_to_b
    FROM pairs p
    JOIN cat_n ca ON p.cat_a = ca.category
    JOIN cat_n cb ON p.cat_b = cb.category
    CROSS JOIN n
    ORDER BY lift DESC, cat_a, cat_b
    LIMIT 25
    """

# r16 Spark arm (guide §2.3/§2.4): the oracle's basket self-join
# shuffles and sort-merges the (orderkey, category) relation against
# itself, and the CTE inlines into four consumers — five lineitem
# scans + five DISTINCT shuffles executed. The per-order ARRAY form
# collapses each order's distinct categories into one sorted array
# (one shuffle by orderkey) and explodes index-ordered pairs MAP-SIDE:
# the self-join disappears entirely. Equivalence: collect_set dedups
# exactly like DISTINCT (and drops NULL categories, which the
# self-join's `<` and the margin joins' equality drop anyway);
# sort_array makes pos_a < pos_b ⟺ cat_a < cat_b (distinct sorted
# values); n_orders = one array row per non-NULL orderkey. A NULL
# orderkey forms its own array row: it counts toward the margins (the
# oracle's DISTINCT keeps (NULL, category) rows too) but not toward
# n_orders or pairs (COUNT(DISTINCT) and the self-join's equality drop
# it). Rows proven identical at sf0.001/0.01/0.1/sf10.
_BASKET_PER_ORDER = """
      SELECT l_orderkey,
             sort_array(collect_set(CAST(l_partkey % 50 AS BIGINT))) AS cats
      FROM lineitem GROUP BY l_orderkey
"""

_BASKET_TAIL = """
    cat_n AS (
      SELECT category, CAST(COUNT(*) AS BIGINT) AS c
      FROM {src} LATERAL VIEW explode(cats) t AS category
      GROUP BY category
    ),
    n AS (
      SELECT CAST(COUNT(l_orderkey) AS BIGINT) AS n_orders FROM {src}
    ),
    pairs AS (
      SELECT cat_a, cat_b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM {src}
      LATERAL VIEW posexplode(cats) ta AS pa, cat_a
      LATERAL VIEW posexplode(cats) tb AS pb, cat_b
      WHERE pa < pb AND l_orderkey IS NOT NULL
      GROUP BY cat_a, cat_b
      HAVING COUNT(*) >= 10
    )
    SELECT p.cat_a, p.cat_b, p.c_ab, ca.c AS c_a, cb.c AS c_b,
           ROUND(CAST(n.n_orders * p.c_ab AS DOUBLE)
                 / (ca.c * cb.c), 6) AS lift,
           ROUND(CAST(p.c_ab AS DOUBLE) / ca.c, 6) AS confidence_a_to_b
    FROM pairs p
    JOIN cat_n ca ON p.cat_a = ca.category
    JOIN cat_n cb ON p.cat_b = cb.category
    CROSS JOIN n
    ORDER BY lift DESC, cat_a, cat_b
    LIMIT 25
    """

_BASKET_ARRAY_BARE = (
    "\n    WITH per_order AS (" + _BASKET_PER_ORDER + "    ),\n"
    + _BASKET_TAIL.format(src="per_order")
)

# lineitem scan bytes above which per_order is additionally persisted
# so its three consumers read the cache (lineitem scans 4 -> 1)
# instead of re-running the scan + collect_set aggregation each.
# Interleaved 3-rep A/B, warm: sf0.1 (73 MB) bare 0.76 s vs persisted
# 1.42 s (fixed persist cost loses); sf10 (647 MB) bare 12.99 s vs
# persisted 8.70 s (vs 18.13 s for the pre-r16 self-join form — 2.08x
# total). 256 MiB sits between the measured regimes. The cache is one
# row per order with a <=50-element array — strictly smaller than its
# source columns (the minhash_pairs buckets-cache doctrine).
_BASKET_MATERIALIZE_MIN_BYTES = 256 << 20


@query(
    "orders_market_basket_lift",
    oracle=_BASKET_ORACLE,
    tags=("join", "market-basket", "association-rules"),
    doc="Market-basket association rules over order line items: "
    "support, confidence and lift for category pairs bought "
    "together (the Apriori 2-itemset pass). Items collapse to "
    "per-order DISTINCT categories first, so per-order fan-out is "
    "capped by the category vocabulary (50) independent of line-item "
    "count, and total pair volume is linear in orders. Lift is the "
    "exact integer ratio n*c_ab/(c_a*c_b); the category margins join "
    "back broadcast-sized. Support floor (>= 10 orders) prunes noise "
    "pre-ranking. r16 (guide §2.3/§2.4): the Spark arm generates "
    "index-ordered pairs map-side from a per-order sorted category "
    "array — the oracle form's corpus self-join disappears (sf10 "
    "18.1 -> 13.0 s bare, -> 8.7 s with the gated per_order persist "
    "above _BASKET_MATERIALIZE_MIN_BYTES, 2.08x; rows identical at "
    "four SFs). Oracle keeps the declarative self-join text.",
)
def orders_market_basket_lift(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.sources.io import plan_scan_bytes

    load_fixture_tables(spark, sf_dir)
    if plan_scan_bytes(spark.table("lineitem")) < _BASKET_MATERIALIZE_MIN_BYTES:
        return spark.sql(_BASKET_ARRAY_BARE)
    per_order = spark.sql(_BASKET_PER_ORDER).persist()
    per_order.count()  # eager: 3 consumers in ONE action recompute a lazy cache
    per_order.createOrReplaceTempView("__basket_per_order")
    out = spark.sql(
        "WITH " + _BASKET_TAIL.format(src="__basket_per_order").lstrip()
    )
    return transfer_ownership(out, per_order)


_RFM_PER_CUST = """
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
                  AS DECIMAL(30,8)) AS monetary
      FROM orders GROUP BY o_custkey
    """


_RFM_TAIL = """
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CASE WHEN r_score = 4 AND f_score = 4 AND m_score = 4
                  THEN 'champion'
                WHEN r_score = 1 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score >= 3 AND f_score <= 2 THEN 'promising'
                ELSE 'regular' END AS segment
    FROM {scored}
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """


@query(
    "customer_rfm_segmentation",
    oracle=f"""
    WITH per_cust AS ({_RFM_PER_CUST}),
    scored AS (
      SELECT o_custkey,
             NTILE(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
             NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(4) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM per_cust
    )
    """
    + _RFM_TAIL.format(scored="scored"),
    tags=("features", "rfm", "segmentation"),
    doc="RFM (recency / frequency / monetary) customer segmentation — "
    "the classic lifecycle-marketing scoring, as one declarative "
    "plan: per-customer aggregates (one shuffle, partial map-side; "
    "monetary decimal-pinned), then three NTILE(4) quartile scores "
    "(each ordering tie-broken by custkey, so bin populations are "
    "deterministic to the row — same guarantee as "
    "features_quantile_binning), folded into the 64-cell RFM cube "
    "with named segments. The three orderings run over the "
    "per-customer rollup (distinct customers, not orders) — still "
    "billions of rows at 100 TB, so the Spark side runs three chained "
    "operators/globalorder.py passes, NTILE derived arithmetically "
    "from the global index. Below the module's scanned-bytes gate "
    "each pass is one ordered window; above it, a range partition + "
    "local row numbers + broadcast offsets, with no single-partition "
    "window. The oracle keeps the classic windowed form. The segment "
    "fold tail is the same SQL text the oracle runs.",
)
def customer_rfm_segmentation(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.operators.globalorder import (
        ntile_from_index,
        with_global_order,
    )

    load_fixture_tables(spark, sf_dir)
    cur = spark.sql(f"SELECT * FROM ({_RFM_PER_CUST})")
    owned = []
    for score, key in (
        ("r_score", "last_order"),
        ("f_score", "frequency"),
        ("m_score", "monetary"),
    ):
        go_res, _, n = with_global_order(
            cur,
            [F.col(key).asc(), F.col("o_custkey").asc()],
            index_col="__rn",
        )
        owned.append(go_res)
        cur = go_res.withColumn(
            score, ntile_from_index("__rn", n, 4)
        ).drop("__rn")
    cur.createOrReplaceTempView("__go_rfm_scored")
    out = spark.sql(_RFM_TAIL.format(scored="__go_rfm_scored"))
    return transfer_ownership(out, *owned)


_PARETO_PART_REV = """
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,8))) AS DECIMAL(38,8)) AS rev
      FROM lineitem GROUP BY l_partkey
    """


_PARETO_CLASS_CASE = """
             CASE WHEN cum_rev * 10 <= total_rev * 8 THEN 'A'
                  WHEN cum_rev * 100 <= total_rev * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
    """


# Spark tail: total_rev is a per-row column (the grand total from
# globalorder: SUM(rev) OVER () or the heavy arm's literal), so no join
# is needed to recover it, unlike the oracle's CROSS JOIN against
# DISTINCT total_rev.
_PARETO_SPARK_TAIL = f"""
    WITH classed AS (
      SELECT l_partkey, rev, total_rev, {_PARETO_CLASS_CASE}
      FROM {{ranked}}
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(rev) AS DOUBLE), 2) AS class_revenue,
           ROUND(CAST(SUM(rev) AS DOUBLE)
                 / CAST(MAX(total_rev) AS DOUBLE), 6) AS revenue_share
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """


@query(
    "lineitem_pareto_abc",
    oracle=f"""
    WITH part_rev AS ({_PARETO_PART_REV}),
    ranked AS (
      SELECT l_partkey, rev,
             CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey)
                  AS DECIMAL(38,8)) AS cum_rev,
             CAST(SUM(rev) OVER () AS DECIMAL(38,8)) AS total_rev
      FROM part_rev
    ),
    classed AS (
      SELECT l_partkey, rev, {_PARETO_CLASS_CASE}
      FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(rev) AS DOUBLE), 2) AS class_revenue,
           ROUND(CAST(SUM(rev) AS DOUBLE)
                 / CAST(MAX(tot) AS DOUBLE), 6) AS revenue_share
    FROM (SELECT c.*, r.total_rev AS tot
          FROM classed c CROSS JOIN (SELECT DISTINCT total_rev
                                     FROM ranked) r) x
    GROUP BY abc_class
    ORDER BY abc_class
    """,
    tags=("agg", "pareto", "abc-analysis"),
    doc="Pareto / ABC inventory analysis: parts classified by "
    "cumulative revenue share (A = first 80%, B = to 95%, C = tail) "
    "— the 80/20 skew diagnosis that decides which join keys "
    "deserve broadcast or salting treatment. The running share is "
    "never computed as a per-row DOUBLE division: class boundaries "
    "compare DECIMAL cumulative sums by integer-scaled "
    "cross-multiplication (cum*10 <= total*8), exact in both "
    "engines, so a part straddling the 80% line lands in the same "
    "class everywhere. Deterministic under revenue ties (partkey "
    "tie-break in the cumulative ordering). The Spark side's "
    "cumulative sum and grand total come from "
    "operators/globalorder.py: below its scanned-bytes gate one "
    "ordered window with SUM(rev) OVER (); above it range-"
    "partitioned local prefixes + broadcast per-partition offsets "
    "(decimal addition is associative, so the distributed prefix "
    "equals the sequential one) with the grand total as a literal "
    "from the same stats job, and no single-partition window. The "
    "oracle keeps the classic windowed form with its CROSS JOIN.",
)
def lineitem_pareto_abc(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.operators.globalorder import with_global_order

    load_fixture_tables(spark, sf_dir)
    part_rev = spark.sql(f"SELECT * FROM ({_PARETO_PART_REV})")
    go_res, totals, _ = with_global_order(
        part_rev,
        [F.col("rev").desc(), F.col("l_partkey").asc()],
        running={"cum_rev": "rev"},
    )
    ranked = go_res.withColumn(
        "cum_rev", F.col("cum_rev").cast("decimal(38,8)")
    ).withColumn(
        "total_rev", totals["cum_rev"].cast("decimal(38,8)")
    )
    ranked.createOrReplaceTempView("__go_pareto_ranked")
    out = spark.sql(_PARETO_SPARK_TAIL.format(ranked="__go_pareto_ranked"))
    return transfer_ownership(out, go_res)


def _ship_sla_sql(dialect: str) -> str:
    if dialect == "spark":
        lag = ("DATEDIFF(CAST(l.l_shipdate AS DATE), "
               "CAST(o.o_orderdate AS DATE))")
        p = "PERCENTILE(lag_days, ARRAY(0.5, 0.9, 0.99))"
        idx = ["[0]", "[1]", "[2]"]
    else:
        lag = ("DATE_DIFF('day', CAST(o.o_orderdate AS DATE), "
               "CAST(l.l_shipdate AS DATE))")
        p = "QUANTILE_CONT(lag_days, [0.5, 0.9, 0.99])"
        idx = ["[1]", "[2]", "[3]"]
    return f"""
    WITH lags AS (
      SELECT l.l_returnflag AS flag,
             CAST({lag} AS BIGINT) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pct AS (
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_items,
             {p} AS q
      FROM lags GROUP BY flag
    )
    SELECT flag, n_items,
           CAST(q{idx[0]} AS DOUBLE) AS p50_days,
           CAST(q{idx[1]} AS DOUBLE) AS p90_days,
           CAST(q{idx[2]} AS DOUBLE) AS p99_days
    FROM pct
    ORDER BY flag
    """


sql_query(
    "lineitem_shipping_sla_percentiles",
    _ship_sla_sql("spark"),
    oracle=_ship_sla_sql("duck"),
    tags=("events", "sla", "percentiles", "latency"),
    doc="Order-to-ship latency SLA percentiles per return-flag cohort "
    "— the p50/p90/p99 latency report pattern, over the orders-"
    "lineitem join. Day lags are exact BIGINTs (DATEDIFF of DATE "
    "casts); both engines' percentile/quantile_cont interpolate "
    "identically on exact integers, and the multi-quantile ARRAY "
    "form computes all three in ONE sort per group instead of "
    "three. The join shuffles on orderkey once; the percentile fold "
    "runs per flag cohort. Dialect split: DATEDIFF arg order, "
    "percentile spelling, and Spark 0-based vs DuckDB 1-based "
    "array indexing.",
)


sql_query(
    "orders_priority_mix_shift",
    """
    WITH monthly AS (
      SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
             o_orderpriority AS prio,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
      GROUP BY CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP),
               o_orderpriority
    ),
    shares AS (
      SELECT m, prio, n,
             CAST(SUM(n) OVER (PARTITION BY m) AS BIGINT) AS m_total
      FROM monthly
    ),
    deltas AS (
      SELECT m, prio, n,
             ROUND(CAST(n AS DOUBLE) / m_total, 6) AS share,
             ROUND(CAST(n AS DOUBLE) / m_total
                   - LAG(CAST(n AS DOUBLE) / m_total) OVER (
                       PARTITION BY prio ORDER BY m), 6) AS share_mom_delta
      FROM shares
    )
    SELECT m AS month_ts, prio, n, share, share_mom_delta
    FROM deltas
    WHERE m >= TIMESTAMP '1998-01-01'
    ORDER BY month_ts, prio
    """,
    tags=("events", "composition", "timeseries"),
    doc="Composition-shift report: each month's order-priority mix and "
    "its month-over-month share delta — the 'did the category mix "
    "move' monitoring view (a sustained delta means upstream behavior "
    "changed even when totals look flat). One month+category rollup "
    "(partial map-side, the only corpus-sized stage), a per-month "
    "total window and a per-category LAG window over the tiny "
    "monthly table. Shares are int/int IEEE divisions; the MoM delta "
    "subtracts two such exact doubles before one ROUND. Output "
    "bounded to the final fixture year. Common-subset SQL.",
)
