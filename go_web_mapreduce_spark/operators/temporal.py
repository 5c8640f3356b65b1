"""Temporal operators over the events stream table: time bucketing,
gap-based sessionization, as-of joins.

The reference is batch-only (SURVEY §2.2 streaming: absent); these are the
time-series capabilities the new engine adds natively. The streaming module
(go_web_mapreduce_spark/streaming/) runs the same hourly aggregation through
Structured Streaming and is asserted equal in tests.

Precision note: events.ts is nanosecond-precision in parquet. Spark (µs
timestamps) and DuckDB (reads this parquet as µs TIMESTAMP) both see the
floor-to-µs value, so every ordering/gap comparison here uses microseconds
(``ts_ns div 1000`` == DuckDB ``epoch_us``) for exact cross-engine parity;
``ts_ns`` remains available for loss-free ordering where no oracle is
involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions.numeric import dsum
from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin
from go_web_mapreduce_spark.sources.tables import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, in microseconds


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Counts and value sums per (hour bucket, event_type). The hypertable-
    rollup pattern: at scale this is one shuffle on (hour, type) — a few
    thousand groups regardless of row count."""
    bucket = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
    return events.groupBy(
        bucket.alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), dsum("value").alias("total_value"))


@query(
    "q_events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    description="time bucketing of the stream table (SURVEY §2.3 "
    "q_events_sessionless_window); streaming twin in streaming/events.py",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_rollup(load_table(spark, sf_dir, "events"))


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Assigns a session id per user: a new session starts when the gap from
    the previous event exceeds ``gap_us``. Classic lag + running-sum-of-flags;
    one shuffle on user_id, sort within partition."""
    events = events.withColumn("_ts_us", F.expr("ts_ns div 1000"))
    w = W.partitionBy("user_id").orderBy("_ts_us", "event_id")
    gap = F.col("_ts_us") - F.lag("_ts_us").over(w)
    new_session = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )


@query(
    "q_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, event_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events,
           CAST(count(*) AS DOUBLE) / count(DISTINCT session_id) AS events_per_session
    FROM sess GROUP BY user_id
    """,
    description="gap-based sessionization (30 min) via lag + running flag sum",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize(load_table(spark, sf_dir, "events"))
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
        (F.count("*").cast("double") / F.countDistinct("session_id")).alias(
            "events_per_session"
        ),
    )


@query(
    "q_asof_join",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
      WHERE event_type = 'click'
    )
    SELECT event_id, click_id,
           epoch_us(ts) - epoch_us(click_ts) AS gap_us
    FROM purchases JOIN clicks USING (user_id)
    WHERE epoch_us(click_ts) <= epoch_us(ts)
    QUALIFY row_number() OVER (PARTITION BY event_id
                               ORDER BY epoch_us(click_ts) DESC, click_id DESC) = 1
    """,
    description="as-of join: most recent prior click for each purchase, "
    "per user (attribution; SURVEY §2.2 joins — as-of)",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.expr("ts_ns div 1000").alias("p_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.expr("ts_ns div 1000").alias("c_ts")
    )
    w = W.partitionBy("event_id").orderBy(F.col("c_ts").desc(), F.col("click_id").desc())
    return (
        purchases.join(clicks, "user_id")
        .filter(F.col("c_ts") <= F.col("p_ts"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "click_id", (F.col("p_ts") - F.col("c_ts")).alias("gap_us"))
    )


@query(
    "q_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, min(us) AS start_us, count(*) AS n_events,
           max(us) - min(us) AS span_us
    FROM sess GROUP BY user_id, sid
    """,
    description="native session-window grouping (F.session_window): dynamic "
    "gap-merged windows per user, one row per session. Same single shuffle "
    "as a fixed window; sessions merge when an event lands strictly inside "
    "the previous event's 30-min window (window end exclusive → a gap of "
    "exactly 30 min starts a new session, hence the oracle's >=). This is "
    "the grouping Structured Streaming uses for streaming sessionization",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "_ts_us", F.expr("ts_ns div 1000")
    )
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        events.groupBy(sw.alias("w"), "user_id")
        .agg(
            F.min("_ts_us").alias("start_us"),
            F.count("*").alias("n_events"),
            (F.max("_ts_us") - F.min("_ts_us")).alias("span_us"),
        )
        .select("user_id", "start_us", "n_events", "span_us")
    )


# ---------------------------------------------------------------------------
# q_gap_fill — dense hourly spine + last-observation-carried-forward
# ---------------------------------------------------------------------------


@query(
    "q_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(h) AS mn, max(h) AS mx FROM hourly),
    spine AS (
      SELECT t.event_type,
             unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS h
      FROM (SELECT DISTINCT event_type FROM events) t, bounds b
    ),
    j AS (
      SELECT s.event_type, s.h, hourly.v
      FROM spine s LEFT JOIN hourly
        ON hourly.event_type = s.event_type AND hourly.h = s.h
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           CAST(v IS NULL AS BIGINT) AS is_gap
    FROM j
    """,
    description="hypertable gap-fill: a dense hourly spine per event type "
    "(bounds from the data, sequence + explode) left-joined to the hourly "
    "rollup, missing hours filled by last-observation-carried-forward "
    "(ignore-nulls last over an ordered window) with a gap flag — the "
    "TimescaleDB time_bucket_gapfill + locf pattern; decimal-exact sums "
    "keep the carried values hash-verifiable",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: the spine is (hours-in-range × event types) rows — bounded
    by calendar span, not corpus size (a decade is <90k hours), so the
    explode and the per-type LOCF window are small regardless of how many
    events fed the hourly rollup; the only corpus-sized work is the rollup's
    own partial-aggregated shuffle."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(dsum("value").alias("v"))
    bounds = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    types = events.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    j = spine.join(hourly, ["event_type", "h"], "left")
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(
        W.unboundedPreceding, 0
    )
    return j.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.isnull("v").cast("bigint").alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# interval coalescing — merge overlapping spans (gaps-and-islands)
# ---------------------------------------------------------------------------

# each event opens a fixed activity interval [ts, ts + 5 min); overlapping
# or touching intervals merge into one island
INTERVAL_LEN_US = 5 * 60 * 1_000_000


@query(
    "q_interval_merge",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + {INTERVAL_LEN_US} AS e, event_id
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN s <= max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 0 ELSE 1 END AS new_i
      FROM iv
    ),
    numbered AS (
      SELECT user_id, s, e,
             sum(new_i) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, min(s) AS i_start, max(e) AS i_end,
             count(*) AS n_events
      FROM numbered GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(i_end - i_start) AS BIGINT) AS covered_us,
           CAST(max(i_end - i_start) AS BIGINT) AS longest_us,
           CAST(max(n_events) AS BIGINT) AS max_events_per_island
    FROM merged GROUP BY user_id
    """,
    description="interval coalescing (gaps-and-islands): each event opens "
    "a fixed 5-minute activity span; overlapping/touching spans merge into "
    "islands per user — per-user island count, covered time, longest "
    "island — the overlap-merge complement of gap-based q_sessionize",
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic interval-merge: sort each user's spans by start, flag a
    new island when a span starts after the running max of all previous
    ends (``max(e) OVER (... ROWS ... 1 PRECEDING)`` — NOT ``lag(e)``,
    which breaks when an earlier long span swallows its successors), and
    a running sum of flags numbers the islands. All arithmetic is integer
    microseconds, so the oracle hash-matches exactly.

    Scale shape: ONE shuffle on user_id; both window passes and the two
    aggregations reuse that single exchange (same partition key). Island
    state is a running max/sum inside each partition — no driver state, no
    self-join (the naive overlap-pairs formulation is an O(n^2)-per-user
    range join). At 100 TB a hot user with millions of spans serializes
    one task; cap spans per (user, day) first if that regime exists —
    islands cannot cross a boundary wider than the interval length unless
    activity is continuous, so day-bucketed keys keep exactness for
    sparse users and bound the rest."""
    events = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    iv = events.select(
        "user_id",
        us.alias("s"),
        (us + F.lit(INTERVAL_LEN_US)).alias("e"),
        "event_id",
    )
    order = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        order.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_i", F.when(F.col("s") <= prev_max_e, F.lit(0)).otherwise(F.lit(1))
    )
    numbered = flagged.withColumn(
        "island",
        F.sum("new_i").over(order.rowsBetween(W.unboundedPreceding, 0)),
    )
    merged = numbered.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count("*").alias("n_events"),
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).alias("covered_us"),
        F.max(F.col("i_end") - F.col("i_start")).alias("longest_us"),
        F.max("n_events").alias("max_events_per_island"),
    )


# ---------------------------------------------------------------------------
# q_markov_transitions — event-type transition matrix within user sessions
# ---------------------------------------------------------------------------


@query(
    "q_markov_transitions",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, event_id, event_type, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    ), pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id, session_id
                                    ORDER BY us, event_id) AS to_type
      FROM sess
    ), cnt AS (
      SELECT from_type, to_type, count(*) AS n
      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
    FROM cnt
    """,
    description="first-order Markov transition matrix of event types within "
    "user sessions (30-min gap rule): consecutive in-session event pairs "
    "counted and row-normalized into transition probabilities — the "
    "user-behavior / sequence-model prior every event pipeline derives. "
    "Plan: ONE shuffle on user_id serves both the sessionizing lag and the "
    "lead pairing (same window partitioning, Catalyst reuses the sort); "
    "the matrix itself is |types|^2 rows, so the normalizing window is "
    "dimension-sized",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id", "session_id").orderBy("_ts_us", "event_id")
    pairs = sess.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    norm = W.partitionBy("from_type")
    return cnt.select(
        "from_type", "to_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(norm)).alias("p"),
    )


# ---------------------------------------------------------------------------
# q_trend_mk — Mann-Kendall monotone-trend test on daily event volume
# ---------------------------------------------------------------------------

MK_Z_CRIT = 1.96


@query(
    "q_trend_mk",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1
    ),
    nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
      GROUP BY 1
    ),
    z AS (
      SELECT s.event_type, nn.n, s.s_stat,
             (CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
              - ties.tie_term) / 18.0 AS var_s
      FROM s JOIN nn ON nn.event_type = s.event_type
             JOIN ties ON ties.event_type = s.event_type
    )
    SELECT event_type, n AS n_days, s_stat, var_s,
           CASE WHEN s_stat > 0 THEN (s_stat - 1.0) / sqrt(var_s)
                WHEN s_stat < 0 THEN (s_stat + 1.0) / sqrt(var_s)
                ELSE 0.0 END AS z,
           abs(CASE WHEN s_stat > 0 THEN (s_stat - 1.0) / sqrt(var_s)
                    WHEN s_stat < 0 THEN (s_stat + 1.0) / sqrt(var_s)
                    ELSE 0.0 END) > {MK_Z_CRIT} AS trending
    FROM z
    """,
    description="Mann-Kendall monotone-trend test per event type on daily "
    "volumes: the non-parametric S statistic over all day pairs, the "
    "tie-corrected variance, the continuity-corrected z, and a trend flag "
    f"at |z| > {MK_Z_CRIT} — the is-this-metric-drifting monitor that "
    "needs no distributional assumptions. Plan: ONE corpus aggregation to "
    "daily counts (types x days rows); the pair join, tie census, and z "
    "are all on that dimension-sized series (the day-pair self-join is "
    "days^2 per type by definition of S, never corpus-sized)",
)
def q_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    a = daily.select("event_type", F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(
        F.col("event_type").alias("et_b"), F.col("day").alias("db"),
        F.col("x").alias("xb"),
    )
    s = (
        a.join(b, (a.event_type == b.et_b) & (F.col("da") < F.col("db")))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    var_s = (
        F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / 18.0
    base = s.join(nn, "event_type").join(ties, "event_type").select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        var_s.alias("var_s"),
    )
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1.0) / F.sqrt(F.col("var_s")))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1.0) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return base.select(
        "event_type", "n_days", "s_stat", "var_s",
        z.alias("z"),
        (F.abs(z) > MK_Z_CRIT).alias("trending"),
    )


# ---------------------------------------------------------------------------
# q_cusum_changepoint — CUSUM level-shift detection on daily event volume
# ---------------------------------------------------------------------------

CUSUM_CRIT = 1.358  # Brownian-bridge 5% critical value for max|S|/(sigma sqrt(n))


@query(
    "q_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) / count(*) AS m,
             CAST(sum(x * x) AS DOUBLE) / count(*) AS m2
      FROM daily GROUP BY 1
    ),
    cum AS (
      SELECT d.event_type, d.day, mom.n, mom.m, mom.m2,
             CAST(CAST(sum(CAST(d.x - mom.m AS DECIMAL(18,6)))
                       OVER (PARTITION BY d.event_type ORDER BY d.day
                             ROWS UNBOUNDED PRECEDING)
                  AS STRING) AS DOUBLE) AS s
      FROM daily d JOIN mom ON mom.event_type = d.event_type
    ),
    best AS (
      SELECT event_type, n, m, m2, day, s,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(s) DESC, day) AS rk
      FROM cum
    )
    SELECT event_type, n AS n_days,
           strftime(day, '%Y-%m-%d') AS cp_day,
           abs(s) AS cusum_max,
           abs(s) / (sqrt(m2 - m * m) * sqrt(CAST(n AS DOUBLE))) AS stat,
           abs(s) / (sqrt(m2 - m * m) * sqrt(CAST(n AS DOUBLE)))
             > {CUSUM_CRIT} AS shifted
    FROM best WHERE rk = 1
    """,
    description="CUSUM level-shift detector per event type on the daily "
    "volume series: the cumulative deviation from the series mean peaks at "
    "the changepoint; max|S| normalized by sigma*sqrt(n) compares against "
    f"the Brownian-bridge 5% critical value {CUSUM_CRIT} — the when-did-"
    "the-pipeline-break locator that pairs with q_trend_mk's is-it-"
    "drifting. Plan: ONE corpus aggregation to daily counts; the cumsum "
    "is a decimal-exact window over the dimension-sized series (so both "
    "engines associate identically and the argmax day cannot flip), the "
    "argmax a types-sized row_number",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("m"),
        (F.sum(F.col("x") * F.col("x")).cast("double") / F.count(F.lit(1))).alias("m2"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = daily.join(F.broadcast(mom), "event_type").select(
        "event_type", "day", "n", "m", "m2",
        F.sum((F.col("x") - F.col("m")).cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("s"),
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.abs(F.col("s")).desc(), "day")
    )
    stat = F.abs(F.col("s")) / (
        F.sqrt(F.col("m2") - F.col("m") * F.col("m"))
        * F.sqrt(F.col("n").cast("double"))
    )
    return (
        cum.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
            F.abs(F.col("s")).alias("cusum_max"),
            stat.alias("stat"),
            (stat > CUSUM_CRIT).alias("shifted"),
        )
    )


# ---------------------------------------------------------------------------
# q_kaplan_meier — survival curve of user activity lifetimes with censoring
# ---------------------------------------------------------------------------

KM_CENSOR_DAYS = 3  # users last seen within this of window end are censored


@query(
    "q_kaplan_meier",
    oracle=f"""
    WITH life AS (
      SELECT user_id,
             (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS t,
             CASE WHEN max(epoch_us(ts))
                       < (SELECT max(epoch_us(ts)) FROM events)
                         - {KM_CENSOR_DAYS} * 86400000000
                  THEN 1 ELSE 0 END AS died
      FROM events GROUP BY user_id
    ),
    steps AS (
      SELECT t, CAST(sum(died) AS BIGINT) AS d,
             CAST(count(*) - sum(died) AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS leaving
      FROM life GROUP BY t
    ),
    risk AS (
      SELECT t, d, c,
             (SELECT count(*) FROM life)
               - coalesce(sum(leaving) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM steps
    ),
    surv AS (
      SELECT t, d, c, n_risk,
             max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS hit_zero,
             CAST(CAST(sum(CAST(CASE WHEN d > 0 AND d < n_risk
                                     THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                                     ELSE 0.0 END AS DECIMAL(18,12)))
                       OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  AS STRING) AS DOUBLE) AS lsum
      FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events, c AS n_censored,
           CASE WHEN hit_zero = 1 THEN 0.0 ELSE exp(lsum) END AS survival
    FROM surv
    """,
    description="Kaplan-Meier survival of user activity lifetime (days "
    "from first to last event), with users last seen within "
    f"{KM_CENSOR_DAYS} days of the observation-window end treated as "
    "censored (still alive) — the churn/retention estimator that handles "
    "the users-you-haven't-lost-yet correctly where a naive lifetime "
    "histogram is biased low. The product-limit estimator runs in log "
    "space under a decimal-cast cumulative (association-proof), with the "
    "d = n_risk terminal step handled by an explicit zero flag. Plan: "
    "one (user) aggregation, then everything on the distinct-duration "
    "grid (bounded by the observation window in days, never user count)",
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.expr("ts_ns div 1000")
    )
    window_end = ev.agg(F.max("us")).first()[0]
    life = ev.groupBy("user_id").agg(
        ((F.max("us") - F.min("us")) / F.lit(86400000000)).cast("bigint").alias("t"),
        F.when(
            F.max("us") < F.lit(window_end - KM_CENSOR_DAYS * 86400000000), 1
        ).otherwise(0).alias("died"),
    )
    n_users = life.count()
    steps = life.groupBy("t").agg(
        F.sum("died").cast("bigint").alias("d"),
        (F.count(F.lit(1)) - F.sum("died")).cast("bigint").alias("c"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w = W.orderBy("t")
    prior = F.coalesce(
        F.sum("leaving").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
    )
    risk = steps.select(
        "t", "d", "c", (F.lit(n_users) - prior).alias("n_risk")
    )
    wc = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    lterm = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    surv = risk.select(
        "t", "d", "c", "n_risk",
        F.max(F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)).over(wc).alias("hit_zero"),
        F.sum(lterm.cast("decimal(18,12)")).over(wc).cast("double").alias("lsum"),
    )
    return surv.select(
        F.col("t").cast("bigint").alias("t_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(F.col("hit_zero") == 1, 0.0).otherwise(F.exp("lsum")).alias("survival"),
    )


# ---------------------------------------------------------------------------
# q_lift_association — market-basket lift of event-type pairs within sessions
# ---------------------------------------------------------------------------


@query(
    "q_lift_association",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT DISTINCT user_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    ), nb AS (SELECT count(DISTINCT (user_id, session_id)) AS n
              FROM sess),
    item AS (
      SELECT event_type, count(*) AS c FROM sess GROUP BY 1
    ),
    pair AS (
      SELECT a.event_type AS ante, b.event_type AS cons, count(*) AS cp
      FROM sess a JOIN sess b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT pair.ante, pair.cons,
           CAST(pair.cp AS BIGINT) AS n_sessions,
           CAST(pair.cp AS DOUBLE) / (SELECT n FROM nb) AS support,
           CAST(pair.cp AS DOUBLE) / ia.c AS confidence,
           CAST(pair.cp AS DOUBLE) * (SELECT n FROM nb)
             / (CAST(ia.c AS DOUBLE) * ic.c) AS lift
    FROM pair JOIN item ia ON ia.event_type = pair.ante
              JOIN item ic ON ic.event_type = pair.cons
    """,
    description="market-basket association over 30-min user sessions: for "
    "every event-type pair, session-level support, confidence "
    "P(cons|ante), and lift P(both)/(P(a)P(b)) — the do-these-behaviors-"
    "co-occur miner (lift > 1 = genuine association, < 1 = substitution), "
    "with the session as the basket. All ratios exact-integer-derived. "
    "Plan: one user_id shuffle sessionizes, DISTINCT collapses each "
    "basket to its type set (bounded by |types| per session), the pair "
    "join is within-basket only — pair volume <= sessions x |types|^2, "
    "never events^2; marginals are a types-sized table",
)
def q_lift_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the session-type basket set feeds FOUR consumers (the basket count,
    # the marginals, and both legs of the within-basket pair join): left
    # unpinned, the sessionize window subtree replays once per consumer.
    # Pin it to scratch parquet (the q_itemsets3 discipline — disk-backed,
    # column-pruned, never a corpus-sized block-manager pin) so the events
    # shuffle + session window run exactly once at any scale (guide §2.4).
    from go_web_mapreduce_spark.sources.sinks import scratch_dir

    sess_path = scratch_dir("lift_sess")
    baskets = (
        sessionize(load_table(spark, sf_dir, "events"))
        .select("user_id", "session_id", "event_type")
        .distinct()
    )
    baskets.write.mode("overwrite").parquet(sess_path)
    sess = spark.read.schema(baskets.schema).parquet(sess_path)
    n_baskets = sess.select("user_id", "session_id").distinct().count()
    item = sess.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = sess.select("user_id", "session_id", F.col("event_type").alias("ante"))
    b = sess.select(
        F.col("user_id").alias("u2"), F.col("session_id").alias("s2"),
        F.col("event_type").alias("cons"),
    )
    pair = (
        a.join(
            b,
            (a.user_id == b.u2)
            & (a.session_id == b.s2)
            & (F.col("ante") < F.col("cons")),
        )
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("cp"))
    )
    ia = item.select(F.col("event_type").alias("ante"), F.col("c").alias("ca"))
    ic = item.select(F.col("event_type").alias("cons"), F.col("c").alias("cc"))
    return (
        pair.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .select(
            "ante", "cons",
            F.col("cp").cast("bigint").alias("n_sessions"),
            (F.col("cp").cast("double") / F.lit(float(n_baskets))).alias("support"),
            (F.col("cp").cast("double") / F.col("ca")).alias("confidence"),
            (
                F.col("cp").cast("double") * F.lit(float(n_baskets))
                / (F.col("ca").cast("double") * F.col("cc"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q_autocorrelation — ACF of the daily volume series per event type
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


@query(
    "q_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) / count(*) AS m
      FROM idx GROUP BY 1
    ),
    lagk AS (
      SELECT a.event_type, l.lag, mom.n, mom.m,
             CAST(CAST(sum(CAST((a.x - mom.m) * (b.x - mom.m)
                                AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS cov_num
      FROM idx a
      CROSS JOIN (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag) l
      JOIN idx b ON b.event_type = a.event_type AND b.i = a.i + l.lag
      JOIN mom ON mom.event_type = a.event_type
      GROUP BY 1, 2, 3, 4
    ),
    var0 AS (
      SELECT idx.event_type,
             CAST(CAST(sum(CAST((idx.x - mom.m) * (idx.x - mom.m)
                                AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS var_num
      FROM idx JOIN mom ON mom.event_type = idx.event_type
      GROUP BY 1
    )
    SELECT l.event_type, CAST(l.lag AS INT) AS lag, l.n AS n_days,
           l.cov_num / v.var_num AS acf,
           abs(l.cov_num / v.var_num) > 1.96 / sqrt(CAST(l.n AS DOUBLE))
             AS significant
    FROM lagk l JOIN var0 v ON v.event_type = l.event_type
    """,
    description=f"autocorrelation function (lags 1..{ACF_MAX_LAG}) of each "
    "event type's daily volume, with the +-1.96/sqrt(n) white-noise band "
    "flag — the seasonality/memory detector that tells a pipeline whether "
    "daily counts are independent (and a forecast is pointless) or "
    "weekly-periodic (and capacity should follow). Uses the standard "
    "biased ACF estimator (covariance at lag over lag-0 variance, same "
    "denominator n). Plan: ONE corpus aggregation to the daily grid; the "
    "lag self-join and moment sums run on the days x types series "
    "(dimension-sized), decimal-cast so both engines sum identically",
)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    idx = daily.select(
        "event_type", "x",
        F.row_number().over(W.partitionBy("event_type").orderBy("day")).alias("i"),
    )
    mom = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("m"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = idx.crossJoin(F.broadcast(lags))
    b = idx.select(
        F.col("event_type").alias("et2"), F.col("x").alias("x2"), F.col("i").alias("i2")
    )
    lagk = (
        a.join(b, (a.event_type == b.et2) & (F.col("i2") == F.col("i") + F.col("lag")))
        .join(F.broadcast(mom), "event_type")
        .groupBy("event_type", "lag", "n", "m")
        .agg(
            dsum((F.col("x") - F.col("m")) * (F.col("x2") - F.col("m")), 6).alias("cov_num")
        )
    )
    var0 = (
        idx.join(F.broadcast(mom), "event_type")
        .groupBy("event_type")
        .agg(dsum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")), 6).alias("var_num"))
    )
    acf = F.col("cov_num") / F.col("var_num")
    return lagk.join(F.broadcast(var0), "event_type").select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        acf.alias("acf"),
        (F.abs(acf) > 1.96 / F.sqrt(F.col("n").cast("double"))).alias("significant"),
    )


# ---------------------------------------------------------------------------
# q_theil_sen — robust trend slope: median of pairwise slopes
# ---------------------------------------------------------------------------


@query(
    "q_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(b.x - a.x AS DOUBLE) / (b.i - a.i) AS s
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND b.i > a.i
    ),
    ranked AS (
      SELECT event_type, s,
             row_number() OVER (PARTITION BY event_type ORDER BY s) AS r,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM slopes
    )
    SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
           (max(CASE WHEN r = (m + 1) // 2 THEN s END)
            + max(CASE WHEN r = m // 2 + 1 THEN s END)) / 2.0 AS slope
    FROM ranked GROUP BY event_type
    """,
    description="Theil-Sen robust trend slope per event type on daily "
    "volumes: the median of all pairwise slopes (up to 29% outlier "
    "breakdown where OLS has 0) — the magnitude companion to "
    "q_trend_mk's direction test. The median is hand-rolled as the "
    "average of the two explicitly rank-selected middle slopes ((lo + "
    "hi)/2 of identical doubles), NOT percentile_cont, whose "
    "interpolation arithmetic differs across engines by an ulp. Plan: "
    "one corpus aggregation to the daily grid; the O(days^2) pair join "
    "and rank window run on the dimension-sized series only (that "
    "quadratic is the estimator's definition, never corpus-sized)",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    idx = daily.select(
        "event_type", "x",
        F.row_number().over(W.partitionBy("event_type").orderBy("day")).alias("i"),
    )
    a = idx.select("event_type", F.col("x").alias("xa"), F.col("i").alias("ia"))
    b = idx.select(
        F.col("event_type").alias("et2"), F.col("x").alias("xb"), F.col("i").alias("ib")
    )
    slopes = a.join(
        b, (a.event_type == F.col("et2")) & (F.col("ib") > F.col("ia"))
    ).select(
        "event_type",
        ((F.col("xb") - F.col("xa")).cast("double") / (F.col("ib") - F.col("ia"))).alias("s"),
    )
    ranked = slopes.select(
        "event_type", "s",
        F.row_number().over(W.partitionBy("event_type").orderBy("s")).alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("m"),
    )
    lo = F.max(F.when(F.col("r") == F.floor((F.col("m") + 1) / 2), F.col("s")))
    hi = F.max(F.when(F.col("r") == F.floor(F.col("m") / 2) + 1, F.col("s")))
    return ranked.groupBy("event_type").agg(
        F.max("m").cast("bigint").alias("n_pairs"),
        ((lo + hi) / 2.0).alias("slope"),
    )


# ---------------------------------------------------------------------------
# q_seasonal_profile — day-of-week seasonality strength per event type
# ---------------------------------------------------------------------------


@query(
    "q_seasonal_profile",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    dow AS (
      SELECT event_type, isodow(day) AS dw, x FROM daily
    ),
    prof AS (
      SELECT event_type, dw, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS DOUBLE) / count(*) AS dow_mean
      FROM dow GROUP BY 1, 2
    ),
    gm AS (
      SELECT event_type,
             CAST(sum(x) AS DOUBLE) / count(*) AS g_mean,
             CAST(CAST(sum(CAST(x * x AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
               / count(*) AS g_m2,
             CAST(count(*) AS BIGINT) AS n
      FROM dow GROUP BY 1
    ),
    resid AS (
      SELECT d.event_type,
             CAST(CAST(sum(CAST((d.x - p.dow_mean) * (d.x - p.dow_mean)
                                AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
               / max(g.n) AS resid_var
      FROM dow d JOIN prof p ON p.event_type = d.event_type AND p.dw = d.dw
                 JOIN gm g ON g.event_type = d.event_type
      GROUP BY d.event_type
    )
    SELECT p.event_type, CAST(p.dw AS INT) AS dow, p.n_days, p.dow_mean,
           p.dow_mean - g.g_mean AS seasonal_component,
           1.0 - r.resid_var / (g.g_m2 - g.g_mean * g.g_mean)
             AS seasonal_strength
    FROM prof p JOIN gm g ON g.event_type = p.event_type
                JOIN resid r ON r.event_type = p.event_type
    """,
    description="day-of-week seasonal profile per event type: the mean "
    "volume and seasonal component per weekday, plus seasonal strength "
    "1 - var(residual)/var(total) (the fraction of daily-volume variance "
    "the weekly cycle explains — the classic STL strength statistic) on "
    "every row; strength near 0 says don't bother with weekly capacity "
    "planning, near 1 says the cycle dominates. Plan: one corpus "
    "aggregation to the daily grid; profile, moments, and residuals all "
    "on the types x 7 / types x days dimension tables, decimal-cast",
)
def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    # ISO day-of-week (1=Mon..7=Sun): Spark weekday() is 0=Mon, DuckDB
    # isodow() is 1=Mon — aligned here (dayofweek() disagrees across engines)
    dow = pin(daily.select(
        "event_type", (F.weekday("day") + 1).alias("dw"), "x"
    ))  # types×days rows, three consumers
    prof = pin(dow.groupBy("event_type", "dw").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("dow_mean"),
    ))  # types×7 rows, two consumers
    glob = dow.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("g_mean"),
        (dsum(F.col("x").cast("double") * F.col("x"), 2) / F.count(F.lit(1))).alias("g_m2"),
        F.count(F.lit(1)).alias("n"),
    )
    resid = (
        dow.join(prof.select("event_type", "dw", "dow_mean"), ["event_type", "dw"])
        .join(F.broadcast(glob.select("event_type", "n")), "event_type")
        .groupBy("event_type")
        .agg(
            (
                dsum((F.col("x") - F.col("dow_mean")) * (F.col("x") - F.col("dow_mean")), 6)
                / F.max("n")
            ).alias("resid_var")
        )
    )
    return (
        prof.join(F.broadcast(glob), "event_type")
        .join(F.broadcast(resid), "event_type")
        .select(
            "event_type",
            F.col("dw").cast("int").alias("dow"),
            "n_days", "dow_mean",
            (F.col("dow_mean") - F.col("g_mean")).alias("seasonal_component"),
            (
                1.0
                - F.col("resid_var")
                / (F.col("g_m2") - F.col("g_mean") * F.col("g_mean"))
            ).alias("seasonal_strength"),
        )
    )


# ---------------------------------------------------------------------------
# q_ewma — exponentially weighted moving average of the daily value series
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.3  # smoothing factor: weight of the newest observation


@query(
    "q_ewma",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
               / count(*) AS m
      FROM events GROUP BY 1, 2
    ),
    pref AS (
      SELECT event_type, day, n, m,
             list(m) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS arr
      FROM daily
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           n AS n_events, m AS mean_value,
           list_reduce(CAST(arr AS DOUBLE[]),
                       (acc, x) -> acc * CAST({1 - EWMA_ALPHA} AS DOUBLE)
                                 + CAST({EWMA_ALPHA} AS DOUBLE) * x) AS ewma,
           m - list_reduce(CAST(arr AS DOUBLE[]),
                       (acc, x) -> acc * CAST({1 - EWMA_ALPHA} AS DOUBLE)
                                 + CAST({EWMA_ALPHA} AS DOUBLE) * x)
             AS deviation
    FROM pref
    """,
    description=f"exponentially weighted moving average (alpha="
    f"{EWMA_ALPHA}) of each event type's daily mean value, initialized at "
    "the first observation, plus the day's deviation from the smoothed "
    "level — the classic drift/level monitor for pipeline health metrics "
    "(throughput, quality score, reject rate) that weights recent days "
    "geometrically more. The recurrence is evaluated as an explicit "
    "left-to-right fold over the prefix of the series, ONE documented "
    "operation order both engines express identically (F.aggregate / "
    "list_reduce), so the float stream is bit-identical and hash-verifies "
    "with no decimal detour; the daily means themselves come from exact "
    "decimal sums. Plan: one corpus aggregation to the (type, day) grid; "
    "the prefix arrays and folds run on the days x types series "
    "(dimension-sized). At 100 TB the grid is still tiny (types x days); "
    "the O(len^2) prefix arrays are bounded by the series length, never "
    "corpus rows",
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (dsum(F.col("value"), 2) / F.count(F.lit(1))).alias("m"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pref = daily.select(
        "event_type", "day", "n", "m", F.collect_list("m").over(w).alias("arr")
    )
    fold = F.aggregate(
        F.expr("slice(arr, 2, size(arr) - 1)"),
        F.element_at("arr", 1),
        lambda acc, x: acc * F.lit(1 - EWMA_ALPHA) + F.lit(EWMA_ALPHA) * x,
    )
    return pref.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").alias("n_events"),
        F.col("m").alias("mean_value"),
        fold.alias("ewma"),
        (F.col("m") - fold).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# q_holt_forecast — Holt's linear-trend method (double exponential smoothing)
# ---------------------------------------------------------------------------

# stated as literals on BOTH sides, never computed (float(1-0.3) is a
# different double than the literal 0.7 — the PR_TELEPORT lesson)
HOLT_ALPHA = "0.5"   # level smoothing
HOLT_1MA = "0.5"
HOLT_BETA = "0.3"    # trend smoothing
HOLT_1MB = "0.7"

# one Holt update, shared textually by both engines: the level expression
# is repeated inside the trend line so the operation order is identical
_HOLT_L = "({a} * x.l + {ma} * (acc.l + acc.b))"
_HOLT_STEP_SPARK = (
    "named_struct("
    f"'l', {_HOLT_L}, "
    f"'b', {{b}} * ({_HOLT_L} - acc.l) + {{mb}} * acc.b)"
).format(a=HOLT_ALPHA, ma=HOLT_1MA, b=HOLT_BETA, mb=HOLT_1MB)


@query(
    "q_holt_forecast",
    # the fold is a recursive CTE on scalar (l, b) columns rather than a
    # list_reduce over a struct accumulator: DuckDB evaluates struct_pack
    # fields sequentially and REBINDS the accumulator in place between
    # fields, so a two-field state where b reads acc.l sees the already-
    # updated level — plain SQL columns in one SELECT have no such hazard
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
               / count(*) AS m
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, m,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ),
    fit AS (
      SELECT event_type, i, n_days, m AS l, CAST(0.0 AS DOUBLE) AS b
      FROM seq WHERE i = 1
      UNION ALL
      SELECT s.event_type, s.i, s.n_days,
             ({HOLT_ALPHA} * s.m + {HOLT_1MA} * (f.l + f.b)) AS l,
             ({HOLT_BETA} * (({HOLT_ALPHA} * s.m + {HOLT_1MA} * (f.l + f.b))
                             - f.l) + {HOLT_1MB} * f.b) AS b
      FROM fit f JOIN seq s ON s.event_type = f.event_type AND s.i = f.i + 1
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           l AS level, b AS trend,
           l + 1 * b AS fc_1,
           l + 2 * b AS fc_2,
           l + 3 * b AS fc_3
    FROM fit WHERE i = n_days
    """,
    description="forecasting joins the temporal family: Holt's "
    "linear-trend method (Holt 1957 / Hyndman fpp3 ch. 8) over each event "
    f"type's daily-mean series — alpha={HOLT_ALPHA}, beta={HOLT_BETA}, "
    "initialized at (first observation, zero trend) — emitting the final "
    "level, trend, and the h=1..3-day-ahead forecasts level + h*trend. "
    "The recurrence is one explicit left-to-right fold with a struct "
    "(level, trend) accumulator, the SAME textual update expression in "
    "both engines (the level formula is repeated inside the trend line so "
    "even the operation order matches), so the float stream is "
    "bit-identical and hash-verifies with no decimal detour; daily means "
    "come from exact decimal sums. Plan: one corpus aggregation to the "
    "(type, day) grid, then everything runs on the dimension-sized "
    "series — the q_ewma shape with a 2-component state",
)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg((dsum(F.col("value"), 2) / F.count(F.lit(1))).alias("m"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("transform(array_sort(collect_list(struct(day, m))), s -> s.m)")
        .alias("arr"),
    )
    fitted = series.select(
        "event_type",
        "n_days",
        F.expr(
            "aggregate(transform(arr, m -> named_struct('l', m, 'b', "
            "cast(0.0 as double))), "
            "cast(null as struct<l: double, b: double>), "
            f"(acc, x) -> if(acc is null, x, {_HOLT_STEP_SPARK})) "
        ).alias("st"),
    )
    return fitted.select(
        "event_type",
        "n_days",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.l") + 1 * F.col("st.b")).alias("fc_1"),
        (F.col("st.l") + 2 * F.col("st.b")).alias("fc_2"),
        (F.col("st.l") + 3 * F.col("st.b")).alias("fc_3"),
    )


# ---------------------------------------------------------------------------
# q_rolling_ols — 7-day rolling OLS trend slope per event type
# ---------------------------------------------------------------------------

ROLL_K = 7  # window length; x = 0..6 within each window, so the OLS
# normal-equation constants are fixed integers: Σx=21, Σx²=91, nΣx²−(Σx)²=196


@query(
    "q_rolling_ols",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
               / count(*) AS m
      FROM events GROUP BY 1, 2
    ),
    pref AS (
      SELECT event_type, day,
             list(m) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
      FROM daily
    ),
    ext AS (
      SELECT event_type, day, arr,
             list_transform(arr, (x, i) -> x * CAST(i - 1 AS DOUBLE)) AS xy
      FROM pref WHERE len(arr) = 7
    ),
    fold AS (
      SELECT event_type, day,
             list_reduce(arr, (a, x) -> a + x) AS sy,
             list_reduce(xy, (a, x) -> a + x) AS sxy
      FROM ext
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           sy / 7.0 AS mean7,
           (7.0 * sxy - 21.0 * sy) / 196.0 AS slope,
           (sy - ((7.0 * sxy - 21.0 * sy) / 196.0) * 21.0) / 7.0 AS intercept
    FROM fold
    """,
    description="7-day rolling OLS trend per event type: for every full "
    "7-day window ending at day d, the least-squares slope and intercept "
    "of the daily-mean-value series against relative day index 0..6 — "
    "the local trend VELOCITY (units/day) where q_ewma reports level and "
    "q_trend_mk a whole-series verdict; the window census any metric "
    "dashboard's sparkline-with-trend is built from. Daily means come "
    "from exact decimal sums; the window sums Σy and Σxy are explicit "
    "left-to-right folds over the 7-element frame array (F.aggregate / "
    "list_reduce — the q_ewma discipline) and the normal-equation "
    "constants (21, 91, 196) are integer literals, so every float op has "
    "one documented order and the slope hash-verifies bit-identically",
)
def q_rolling_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus aggregation to the (type, day) grid; everything after is
    dimension-sized (types × days), with 7-element arrays per row — the
    same 100 TB shape as q_ewma/q_holt_forecast. The x-values are the
    RELATIVE indices 0..6, not epoch days: the normal equations then have
    constant integer coefficients, which both kills a catastrophic-
    cancellation risk (Σx² with epoch-day x ~ 4·10⁸ loses all slope
    signal to rounding) and lets the expression be stated with literal
    constants in identical order in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg((dsum(F.col("value"), 2) / F.count(F.lit(1))).alias("m"))
    w7 = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(ROLL_K - 1), W.currentRow)
    )
    pref = daily.select(
        "event_type", "day", F.collect_list("m").over(w7).alias("arr")
    ).where(F.size("arr") == ROLL_K)
    ext = pref.select(
        "event_type",
        "day",
        "arr",
        # 0-based x: Spark's transform index is 0-based where DuckDB's is
        # 1-based — the (i - 1) lives on the SQL side
        F.transform("arr", lambda x, i: x * i.cast("double")).alias("xy"),
    )
    sy = F.aggregate(
        F.expr("slice(arr, 2, 6)"), F.element_at("arr", 1), lambda a, x: a + x
    )
    sxy = F.aggregate(
        F.expr("slice(xy, 2, 6)"), F.element_at("xy", 1), lambda a, x: a + x
    )
    fold = ext.select(
        "event_type", "day", sy.alias("sy"), sxy.alias("sxy")
    )
    slope = (F.lit(7.0) * F.col("sxy") - F.lit(21.0) * F.col("sy")) / F.lit(196.0)
    return fold.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("sy") / F.lit(7.0)).alias("mean7"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.lit(21.0)) / F.lit(7.0)).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# q_attribution — first/last-touch conversion attribution with a lookback
# ---------------------------------------------------------------------------

ATTR_CONV = "purchase"            # the conversion event
ATTR_LOOKBACK_US = 86_400_000_000  # 24 h, in microseconds


@query(
    "q_attribution",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS tu FROM events
    ),
    conv AS (
      SELECT user_id, tu, value, event_type,
             first_value(CASE WHEN event_type <> '{ATTR_CONV}'
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu
                     RANGE BETWEEN {ATTR_LOOKBACK_US} PRECEDING
                           AND 1 PRECEDING) AS ft,
             last_value(CASE WHEN event_type <> '{ATTR_CONV}'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu
                     RANGE BETWEEN {ATTR_LOOKBACK_US} PRECEDING
                           AND 1 PRECEDING) AS lt
      FROM ev
    )
    SELECT 'first_touch' AS model, coalesce(ft, 'none') AS touch,
           CAST(count(*) AS BIGINT) AS n_conv,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
             AS attributed_value
    FROM conv WHERE event_type = '{ATTR_CONV}' GROUP BY 2
    UNION ALL
    SELECT 'last_touch', coalesce(lt, 'none'),
           CAST(count(*) AS BIGINT),
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
    FROM conv WHERE event_type = '{ATTR_CONV}' GROUP BY 2
    """,
    description="multi-touch conversion attribution: every purchase is "
    "attributed to the FIRST and the LAST non-conversion event of the "
    "same user inside a 24 h lookback (the two classic single-touch "
    "models), 'none' when the window is empty; per-(model, touch) "
    "conversion counts and decimal-exact attributed revenue. The "
    "lookback is an event-time RANGE frame over exact integer "
    "microseconds ending at 1 PRECEDING — peers at the conversion's own "
    "timestamp are excluded identically in both engines, and IGNORE "
    "NULLS picks the touch without a second pass",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One user_id window shuffle computes both models (two frames over
    the same sort), then everything downstream is conversion-sized and
    the final aggregates are (model × types)-sized. The RANGE frame on
    integer microseconds is the loss-free cross-engine formulation of
    '24 h before' (calendar intervals round-trip differently; epoch math
    doesn't). At 100 TB this is the one-shuffle sessionization shape:
    state per user bounded by the lookback, no self-join of events to
    events (the naive formulation), no pair explosion. The touch rows
    are pinned after the purchase filter so the two model legs do not
    re-run the corpus window.

    Determinism note: among RANGE-frame peers (events of one user in the
    SAME microsecond) first/last_value order is engine-undefined; the
    driver testdata has no such ties at any scale (asserted 0 tied
    (user, µs) groups at sf0.001..sf1), and a corpus that has them needs
    a composite integer order key (tu·k + sub-sequence) on both sides."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", F.expr("ts_ns div 1000").alias("tu")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tu")
        .rangeBetween(-ATTR_LOOKBACK_US, -1)
    )
    touch = F.when(F.col("event_type") != ATTR_CONV, F.col("event_type"))
    conv = (
        ev.select(
            "event_type",
            "value",
            F.first(touch, ignorenulls=True).over(w).alias("ft"),
            F.last(touch, ignorenulls=True).over(w).alias("lt"),
        )
        .where(F.col("event_type") == ATTR_CONV)
    )
    legs = []
    for model, col in (("first_touch", "ft"), ("last_touch", "lt")):
        legs.append(
            conv.groupBy(F.coalesce(F.col(col), F.lit("none")).alias("touch"))
            .agg(
                F.count(F.lit(1)).alias("n_conv"),
                dsum(F.col("value"), 2).alias("attributed_value"),
            )
            .select(
                F.lit(model).alias("model"),
                "touch",
                "n_conv",
                "attributed_value",
            )
        )
    return legs[0].unionAll(legs[1])


# ---------------------------------------------------------------------------
# q_sequence_pairs — "A then B" temporal association within sessions
# ---------------------------------------------------------------------------


@query(
    "q_sequence_pairs",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, event_id, event_type, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    ), firsts AS (
      SELECT user_id, session_id, event_type,
             min(us) AS us, min(event_id) AS eid
      FROM (SELECT user_id, session_id, event_type, us, event_id,
                   row_number() OVER (PARTITION BY user_id, session_id, event_type
                                      ORDER BY us, event_id) AS rn
            FROM sess) fr
      WHERE rn = 1 GROUP BY 1, 2, 3
    ), tot AS (
      SELECT count(DISTINCT (user_id, session_id)) AS s FROM sess
    ), occ AS (
      SELECT event_type, count(*) AS n_a FROM firsts GROUP BY 1
    ), pair AS (
      SELECT a.event_type AS a, b.event_type AS b, count(*) AS n_sessions
      FROM firsts a JOIN firsts b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type <> b.event_type
       AND (a.us < b.us OR (a.us = b.us AND a.eid < b.eid))
      GROUP BY 1, 2
    )
    SELECT pair.a, pair.b, CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(n_sessions * 1000000 // (SELECT s FROM tot) AS BIGINT)
             AS support_ppm,
           CAST(n_sessions * 1000000 // occ.n_a AS BIGINT) AS confidence_ppm
    FROM pair JOIN occ ON occ.event_type = pair.a
    """,
    description="temporal association mining: for every ordered type pair "
    "(A, B), the sessions where A's FIRST occurrence precedes B's — "
    "'users who view THEN purchase' — with integer support (share of all "
    "sessions) and confidence (share of A-sessions) in ppm; the ordered "
    "complement of q_lift_association's unordered baskets and the "
    "non-adjacent complement of q_markov_transitions' consecutive "
    "transitions (A→…→B counts here however many events intervene). "
    "First occurrences collapse each session to ≤|types| rows before the "
    "pair join, so the pair volume is sessions × types², never events²",
)
def q_sequence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One user_id shuffle sessionizes (shared sort with the first-
    occurrence aggregation); the self-join runs on (user, session) keys
    over the ≤|types|-row-per-session firsts table — bounded fan-out,
    the same discipline as the co-purchase edge build. Ties in first-
    occurrence time break on event_id in BOTH engines (the corpus has
    no same-µs user ties — asserted in q_attribution's determinism
    note — but the tiebreak keeps the operator total-order-correct on
    corpora that do)."""
    sess = sessionize(load_table(spark, sf_dir, "events"))
    firsts = sess.groupBy("user_id", "session_id", "event_type").agg(
        F.min(F.struct(F.col("_ts_us").alias("us"), F.col("event_id").alias("eid"))).alias("m")
    )
    firsts = firsts.select(
        "user_id", "session_id", "event_type",
        F.col("m.us").alias("us"), F.col("m.eid").alias("eid"),
    )
    tot = sess.select("user_id", "session_id").distinct().agg(
        F.count(F.lit(1)).alias("s")
    )
    occ = firsts.groupBy(F.col("event_type").alias("a_type")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    a = firsts.select(
        "user_id", "session_id", F.col("event_type").alias("a"),
        F.col("us").alias("ua"), F.col("eid").alias("ea"),
    )
    b = firsts.select(
        "user_id", "session_id", F.col("event_type").alias("b"),
        F.col("us").alias("ub"), F.col("eid").alias("eb"),
    )
    pair = (
        a.join(b, ["user_id", "session_id"])
        .where(F.col("a") != F.col("b"))
        .where(
            (F.col("ua") < F.col("ub"))
            | ((F.col("ua") == F.col("ub")) & (F.col("ea") < F.col("eb")))
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    return (
        pair.join(F.broadcast(occ), pair.a == F.col("a_type"))
        .join(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n_sessions",
            F.expr("CAST(n_sessions * 1000000 DIV s AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST(n_sessions * 1000000 DIV n_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_stl_decompose — classical additive seasonal decomposition (centered
# moving-average trend, per-hour-of-day seasonal) of the hourly event series
# ---------------------------------------------------------------------------

STL_HALF = 12  # centered 25-hour trend window: ±12 hours around the bucket
STL_W = 2 * STL_HALF + 1


@query(
    "q_stl_decompose",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ma AS (
      SELECT event_type, bucket, x,
             sum(x) OVER w AS wsum,
             count(*) OVER w AS wn
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN {STL_HALF} PRECEDING
                            AND {STL_HALF} FOLLOWING)
    ),
    detr AS (
      SELECT event_type, CAST(extract(hour FROM bucket) AS INT) AS hod,
             {STL_W} * x - wsum AS d25
      FROM ma WHERE wn = {STL_W}
    )
    SELECT event_type, hod,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d25) AS BIGINT) AS det_sum,
           CAST(sum(d25) AS DOUBLE) / ({STL_W}.0 * count(*)) AS seasonal
    FROM detr GROUP BY event_type, hod
    """,
    description="classical additive seasonal decomposition (the moving-"
    "average construction underlying STL, Cleveland 1990): hourly event "
    f"counts detrended by a centered {STL_W}-hour moving average, then "
    "averaged per hour-of-day to give each event type's intra-day "
    "seasonal component. Only full trend windows contribute, so the "
    f"detrended value is the exact bigint {STL_W}·x − window_sum and "
    "every aggregate is integer until the single final division — the "
    "decomposition hash-verifies with no float-sum ordering surface",
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the corpus collapses to the (event_type, hour)
    grid in one partial-aggregated shuffle; every window after that runs
    on the GRID, whose size is calendar hours × event types — it grows
    with time span, not data volume, so the ±12h moving average is a
    bounded-frame window over a dimension-sized partition (each event
    type's hourly series), never a corpus-scaled sort. Gap hours (no
    events at all) are absent from the grid; the MA spans grid-adjacent
    rows in both engines identically (a gap-filled variant would compose
    with q_gap_fill's grid join). Trend rows need the full 25-hour frame
    (wn = 25), which drops the 12 edge hours per type — the standard
    centered-MA boundary loss — and makes 25·x − Σwindow an exact bigint
    detrending: the per-hour-of-day seasonal means are ratios of exact
    integer sums, bit-identical cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-STL_HALF, STL_HALF)
    )
    ma = hourly.select(
        "event_type",
        "bucket",
        "x",
        F.sum("x").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    detr = ma.where(F.col("wn") == STL_W).select(
        "event_type",
        F.hour("bucket").cast("int").alias("hod"),
        (F.lit(STL_W) * F.col("x") - F.col("wsum")).alias("d25"),
    )
    return detr.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d25").alias("det_sum"),
        (
            F.sum("d25").cast("double")
            / (F.lit(float(STL_W)) * F.count(F.lit(1)))
        ).alias("seasonal"),
    )


# ---------------------------------------------------------------------------
# q_ohlc_bars — open/high/low/close candlestick rollup of the event value
# stream (the classic financial bar aggregation; open/close are exact
# first/last picks, not sums, so no float-aggregation surface exists)
# ---------------------------------------------------------------------------


@query(
    "q_ohlc_bars",
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts) AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           arg_min(value, printf('%020d-%020d', epoch_us(ts), event_id))
             AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, printf('%020d-%020d', epoch_us(ts), event_id))
             AS close,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
             AS volume
    FROM events
    GROUP BY 1, 2
    """,
    description="OHLC candlestick bars: per event type and hour, the "
    "first/last value by exact (microsecond, event_id) order plus the "
    "high/low/volume — the time-series bar rollup every monitoring and "
    "market pipeline runs. Open/close are arg_min/arg_max VALUE PICKS "
    "(min_by/max_by over a struct ordering key), not aggregated floats, "
    "and volume uses the decimal-cast exact sum, so every column "
    "hash-verifies. One partial-aggregated shuffle on (type, hour); "
    "min_by partial-aggregates map-side like min — no window, no sort",
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the tempting formulation is a row_number window
    per (type, hour) to find first/last rows — that sorts every group.
    min_by/max_by instead fold to a single (key, candidate) state per
    group per partition map-side, so the shuffle carries one candidate
    row per group per map partition, same as min/max. The ordering key
    is the exact integer pair (ts_ns div 1000, event_id) — microseconds
    match DuckDB's epoch_us, event_id breaks ties deterministically.
    Bars are (types × hours)-sized: calendar-bounded output."""
    ev = load_table(spark, sf_dir, "events")
    # zero-padded fixed-width string: lexicographic == numeric order, and
    # (unlike a struct key) DuckDB's arg_min accepts VARCHAR ordering keys
    okey = F.format_string(
        "%020d-%020d", F.expr("ts_ns div 1000"), F.col("event_id")
    )
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min_by("value", okey).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", okey).alias("close"),
        dsum("value").alias("volume"),
    )


# ---------------------------------------------------------------------------
# q_twap — time-weighted average of the event value per user-day (each
# observation holds until the next one), the irregular-sampling mean that
# plain AVG gets wrong whenever observation density correlates with value
# ---------------------------------------------------------------------------

TWAP_VSCALE = 10_000  # value quantization: v4 = round(value · 10^4)


@query(
    "q_twap",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(round(value * {TWAP_VSCALE}) AS BIGINT) AS v4,
             lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dt_us
      FROM events
      WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY epoch_us(ts), event_id)
    ),
    agg AS (
      SELECT user_id, day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(dt_us) AS BIGINT) AS span_us,
             CAST(sum(v4 * dt_us) AS BIGINT) AS vw_sum
      FROM seq WHERE dt_us IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events, span_us,
           CAST(vw_sum AS DOUBLE) / ({TWAP_VSCALE}.0 * span_us) AS twap
    FROM agg WHERE span_us > 0
    """,
    description="time-weighted average price/value (TWAP) per user-day: "
    "each observation's value holds until the next observation, weighted "
    "by its exact microsecond duration — the standard irregular-series "
    "mean (arithmetic AVG over-weights bursts; TWAP is what billing, "
    "position, and market pipelines actually need). Values quantized to "
    "round(v·10⁴) bigints, so Σ v·dt and Σ dt are exact integers "
    "(bounded: max value ×  a day in µs ≪ 2⁶³) and the TWAP is one "
    "final division — hash-exact cross-engine",
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: ONE window pass partitioned by (user_id, day) —
    partitions are a user's single-day activity, the same user-bounded
    key every sequence operator here rides (q_sessionize, q_attribution);
    never a global or type-level sort. The weighted sums then partial-
    aggregate on the same key, so the shuffle set is touched once and
    AQE coalesces the user-day grid. The last observation of each
    user-day has no successor and carries no duration (the standard
    left-closed TWAP convention); single-event days drop out via
    span_us > 0 — both stated in the oracle verbatim."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", F.date_trunc("day", "ts")).orderBy(
        F.expr("ts_ns div 1000"), "event_id"
    )
    seq = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * TWAP_VSCALE).cast("bigint").alias("v4"),
        (
            F.lead(F.expr("ts_ns div 1000")).over(w) - F.expr("ts_ns div 1000")
        ).alias("dt_us"),
    ).where(F.col("dt_us").isNotNull())
    agg = seq.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("dt_us").alias("span_us"),
        F.sum(F.col("v4") * F.col("dt_us")).alias("vw_sum"),
    )
    return agg.where(F.col("span_us") > 0).select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "span_us",
        (
            F.col("vw_sum").cast("double")
            / (F.lit(float(TWAP_VSCALE)) * F.col("span_us"))
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# q_path_analysis — top session-opening paths (first-3-event trigrams)
# ---------------------------------------------------------------------------

PATH_LEN = 3
PATH_TOP = 10


@query(
    "q_path_analysis",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, event_id, event_type, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    ), ranked AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY us, event_id) AS r
      FROM sess QUALIFY r <= {PATH_LEN}
    ), paths AS (
      SELECT user_id, session_id,
             max(CASE WHEN r = 1 THEN event_type END) || '>'
               || max(CASE WHEN r = 2 THEN event_type END) || '>'
               || max(CASE WHEN r = 3 THEN event_type END) AS path
      FROM ranked GROUP BY 1, 2
      HAVING count(*) >= {PATH_LEN}
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}
    """,
    description=f"session path analysis: the top-{PATH_TOP} opening "
    f"{PATH_LEN}-step event-type paths across user sessions (30-min gap "
    "rule), 'a>b>c' ordered by (ts, event_id) — the product-analytics "
    "staple behind onboarding funnels and navigation sunbursts; "
    "sessions shorter than the path length are excluded",
)
def q_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the ONE corpus shuffle is the user_id
    sessionizing window (shared ordering with q_markov_transitions —
    the lag flag, the running session sum, and the opening-rank
    row_number all reuse one (user, time) sort); the rank<=3 filter
    executes as WindowGroupLimit, so the path-assembly groupBy receives
    at most 3 rows per session — session-count-scaled, with the
    conditional-max fold (no collect_list ordering hazard: position is
    explicit in r). The final census is |type|^3-bounded and the top-10
    is a TakeOrdered, never a global sort."""
    sess = sessionize(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id", "session_id").orderBy("_ts_us", "event_id")
    ranked = sess.select(
        "user_id", "session_id", "event_type",
        F.row_number().over(w).alias("r"),
    ).where(F.col("r") <= PATH_LEN)
    paths = (
        ranked.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.concat_ws(
                ">",
                *[
                    F.max(F.when(F.col("r") == i + 1, F.col("event_type")))
                    for i in range(PATH_LEN)
                ],
            ).alias("path"),
        )
        .where(F.col("n") >= PATH_LEN)
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOP)
    )
