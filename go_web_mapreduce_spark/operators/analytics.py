"""Composite analytics operators: incremental view maintenance, a classic
multi-way join + aggregate + top-k report, and a window-formulated skyline
(Pareto frontier).

These round out the relational surface with the *composition* patterns a
user of the reference would hand-code as map/reduce chains (reference:
algorithm/algorithm.go's open slots): each is one declarative Catalyst plan
here, with an exact DuckDB oracle.

100 TB notes per operator live in the docstrings; the common theme is that
every plan is either a standard broadcast-dim star shape or replaces a
quadratic formulation (skyline's NOT EXISTS, IVM's full recompute) with a
one-pass window / algebraic-merge equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin
from go_web_mapreduce_spark.sources.tables import fan_out, load_table, local_frame

# ---------------------------------------------------------------------------
# q_ivm_merge — incremental (algebraic) view maintenance
# ---------------------------------------------------------------------------

# the delta cutoff: events on/after this instant are "the new batch"
IVM_CUTOFF = "2024-01-25 00:00:00"


@query(
    "q_ivm_merge",
    oracle=f"""
    WITH base AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS s
      FROM events WHERE ts < TIMESTAMP '{IVM_CUTOFF}'
      GROUP BY 1, 2
    ), delta AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS s
      FROM events WHERE ts >= TIMESTAMP '{IVM_CUTOFF}'
      GROUP BY 1, 2
    ), merged AS (
      SELECT event_type, day, sum(n) AS n, sum(s) AS s
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY 1, 2
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n,
           CAST(s AS DOUBLE) AS total_value,
           CAST(s AS DOUBLE) / n AS avg_value
    FROM merged
    """,
    description="incremental view maintenance: merge a delta batch's partial "
    "aggregates into the base summary algebraically (count/sum states), "
    "derive avg at read time — no recompute of the base",
)
def q_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The algebraic-merge property that makes a 100 TB rollup maintainable:
    (count, sum) states combine associatively, so refreshing the view costs
    O(delta) + O(|groups|), never O(base). Here both sides derive from one
    scan (Catalyst splits the filter); in production the base summary is the
    persisted view and only the delta is read. ``avg`` is deliberately
    derived from the merged states — averages don't merge, their states do.
    The decimal accumulators keep the merge bit-identical to a full
    recompute (asserted in tests)."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(IVM_CUTOFF).cast("timestamp")

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
        )

    base = summarize(events.filter(F.col("ts") < cutoff))
    delta = summarize(events.filter(F.col("ts") >= cutoff))
    merged = (
        base.unionAll(delta)
        .groupBy("event_type", "day")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    return merged.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("double").alias("total_value"),
        # divide as doubles: decimal division result scale differs across
        # engines (Spark rounds at scale 6 here, DuckDB at 7); double-on-
        # double division of the exact decimal states is bit-identical
        (F.col("s").cast("double") / F.col("n")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# q_top_revenue — the classic shipping-priority report (TPC-H Q3 shape)
# ---------------------------------------------------------------------------

SEGMENT = "BUILDING"
Q3_DATE = "1998-01-01"
Q3_TOPN = 10


@query(
    "q_top_revenue",
    oracle=f"""
    SELECT l_orderkey,
           CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{SEGMENT}'
      AND o_orderdate < DATE '{Q3_DATE}'
      AND l_shipdate > DATE '{Q3_DATE}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT {Q3_TOPN}
    """,
    description="shipping-priority report (TPC-H Q3 shape): segment-filtered "
    "customer⋈orders⋈lineitem, revenue per order, top-10 — the composite "
    "join+agg+topk pattern in one Catalyst plan",
)
def q_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape at scale: the segment filter prunes customers map-side
    (pushed to the scan), the filtered customer side broadcasts or
    shuffle-joins per AQE's size estimate, lineitem's date filter is pushed
    down, revenue aggregates partial-then-final on l_orderkey, and the
    top-10 compiles to TakeOrderedAndProject — no global sort of the
    aggregate. Exactly the plan you'd want for the same report on 100 TB."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    )
    revenue = F.sum(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
    ).cast("double")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(Q3_TOPN)
    )


# ---------------------------------------------------------------------------
# q_skyline — 2-D Pareto frontier via a window, not a quadratic anti-join
# ---------------------------------------------------------------------------


@query(
    "q_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_size >= p.p_size AND q.p_retailprice >= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice > p.p_retailprice)
    )
    """,
    description="2-D skyline (Pareto frontier maximizing size and price): "
    "the quadratic NOT-EXISTS semantics computed as one sort + running max "
    "— the data-curation frontier pattern (quality vs length)",
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle states the O(n²) dominance definition; the plan computes
    it in O(n log n): per-size max price, then a size-descending running max
    — a size survives iff its best price strictly beats every larger size's
    best, and the surviving (size, max-price) pairs select the frontier rows
    (ties kept, like the NOT EXISTS). At 100 TB: one shuffle on p_size for
    the group-by, a 50-row window, and a broadcast semi-join back — the
    quadratic formulation never materializes."""
    part = load_table(spark, sf_dir, "part")
    per_size = part.groupBy("p_size").agg(F.max("p_retailprice").alias("mp"))
    w = (
        Window.orderBy(F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # alias the frontier columns: it derives from `part`, and reusing the
    # parent's column names in a self-join condition relies on the analyzer's
    # lineage disambiguation (it resolves correctly — asserted by the oracle —
    # but warns); distinct names make the join keys unambiguous by name
    frontier = (
        per_size.withColumn("runmax", F.max("mp").over(w))
        .filter(F.col("runmax").isNull() | (F.col("mp") > F.col("runmax")))
        .select(F.col("p_size").alias("sk_size"), "mp")
    )
    return (
        part.join(
            F.broadcast(frontier),
            (part.p_size == frontier.sk_size)
            & (part.p_retailprice == frontier.mp),
            "left_semi",
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# q_sketch_merge — mergeable HLL sketch states (incremental distinct counts)
# ---------------------------------------------------------------------------


def _sketch_merge_oracle() -> str:
    from go_web_mapreduce_spark.functions import hll as _hll

    val = "CAST(user_id AS VARCHAR)"
    return f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             {_hll.hll_bucket_sql_duckdb(val)} AS bucket,
             max({_hll.hll_rank_sql(val)}) AS M
      FROM events GROUP BY 1, 2, 3
    ), merged AS (
      SELECT event_type, bucket, max(M) AS M FROM daily GROUP BY 1, 2
    ), stats AS (
      SELECT event_type, sum({_hll.hll_term_sql_duckdb("M")})::BIGINT AS sp,
             count(*) AS nb
      FROM merged GROUP BY 1
    ), est AS (
      SELECT event_type, {_hll.hll_estimate_sql_duckdb("sp", "nb")} AS approx_users
      FROM stats
    ), days AS (
      SELECT event_type, count(DISTINCT date_trunc('day', ts)) AS n_days
      FROM events GROUP BY 1
    ), ex AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT event_type, approx_users, n_days, exact_users
    FROM est JOIN days USING (event_type) JOIN ex USING (event_type)
    """


@query(
    "q_sketch_merge",
    oracle=_sketch_merge_oracle(),
    description="mergeable distinct-count sketches: per-day portable-HLL "
    "register states of user_id merged per event type by max — the "
    "incremental distinct-counting pattern (persist daily states, merge at "
    "read; no rescan of history); hash-verified because the register "
    "algebra is integer-exact (functions/hll.py)",
)
def q_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale story IS the mergeability: a 100 TB history keeps one tiny
    register table (<= 4096 rows) per (event_type, day) partition; any
    rollup — per type, per week, global — is a max-merge of states, never
    a rescan. The state here is the RELATIONAL sketch of functions/hll.py
    ((group, bucket, M) rows): merge = groupBy(bucket).max(M), which is
    associative/commutative, so the identity *union of daily states ==
    one-shot sketch over raw rows* holds exactly by algebra (asserted in
    tests/test_analytics.py) and the estimate hash-matches the DuckDB
    oracle replaying the same daily->merged->estimate chain. Exact
    distinct is included for the error-vs-exact comparison at this SF.
    (The binary-state alternative ``hll_sketch_agg``/``hll_union_agg``
    ships with Spark and is exercised in the same test; its DataSketches
    state is more compact on the wire but engine-private, so the portable
    register form is the verified contract.)"""
    from go_web_mapreduce_spark.functions import hll as _hll

    events = load_table(spark, sf_dir, "events")
    daily = _hll.hll_registers(
        events.withColumn("day", F.date_trunc("day", "ts")),
        ["event_type", "day"],
        F.col("user_id"),
    )
    est = _hll.hll_estimate_from_registers(daily, ["event_type"]).select(
        "event_type", F.col("approx").alias("approx_users")
    )
    days = events.groupBy("event_type").agg(
        F.countDistinct(F.date_trunc("day", "ts")).alias("n_days")
    )
    ex = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        est.join(days, "event_type")
        .join(ex, "event_type")
        .select("event_type", "approx_users", "n_days", "exact_users")
    )


# ---------------------------------------------------------------------------
# q_funnel — ordered multi-step conversion funnel
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


@query(
    "q_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND epoch_us(ts) > t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(ts) > t2
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'view>click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 'view>click>purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
    description="ordered conversion funnel (view → click → purchase, strict "
    "temporal order per user): per-stage reached-user counts — the event-"
    "analytics sequence-match pattern",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each stage is a per-user min over a filtered scan joined to the
    previous stage's frontier. Every exchange in the plan keys on user_id
    (asserted in tests) and carries only that stage's *filtered slice* —
    the event-type filter is pushed to each scan, so at 100 TB each funnel
    step shuffles its own step's events once (a fraction of the table) and
    the frontier side of each join shrinks monotonically. Deeper funnels
    add per-slice shuffles, never a full-table re-shuffle."""
    events = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")

    def stage(event_type: str, prev: DataFrame | None, prev_t: str, t: str):
        e = events.filter(F.col("event_type") == event_type).select(
            "user_id", us.alias("_us")
        )
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("_us") > F.col(prev_t))
        return e.groupBy("user_id").agg(F.min("_us").alias(t))

    # Frontier state is one (user_id, ts) row per surviving user — the
    # funnel's inherent state, monotonically shrinking per stage. Each
    # frontier ends in its groupBy exchange, which AQE reuses for the next
    # stage and the census count.
    s1 = stage(FUNNEL_STEPS[0], None, "", "t1")
    s2 = stage(FUNNEL_STEPS[1], s1, "t1", "t2")
    s3 = stage(FUNNEL_STEPS[2], s2, "t2", "t3")
    rows = [
        ("view", s1),
        ("view>click", s2),
        ("view>click>purchase", s3),
    ]
    out = None
    for label, df in rows:
        one = df.agg(F.count("*").alias("n_users")).select(
            F.lit(label).alias("stage"), F.col("n_users").cast("long")
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# q_retention — cohort retention matrix
# ---------------------------------------------------------------------------


@query(
    "q_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id, min(date_trunc('day', ts)) AS c FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    )
    SELECT strftime(c, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', c, d) AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM active JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
    description="cohort retention matrix: users grouped by first-seen day, "
    "distinct-active counts per (cohort, day offset) — the standard "
    "engagement analysis",
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort assignment and the activity set both aggregate on user_id
    (one exchange, reused), and the final matrix groups on the tiny
    (cohort, offset) key. The distinct-activity step is the only
    event-volume shuffle and carries (user_id, day) pairs only."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    cohort = events.groupBy("user_id").agg(F.min(day).alias("c"))
    active = events.select("user_id", day.alias("d")).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            F.date_format("c", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "c").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# q_quantile_rollup — mergeable quantile sketches (equi-width histograms)
# ---------------------------------------------------------------------------

QH_LO, QH_WIDTH, QH_BUCKETS = 0.0, 2.0, 256  # covers events.value ∈ [0, 512)
QH_QUANTILES = (0.5, 0.95, 0.99)


@query(
    "q_quantile_rollup",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(least(greatest(floor(value / {QH_WIDTH}), 0),
                          {QH_BUCKETS - 1}) AS BIGINT) AS b,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    merged AS (SELECT b, CAST(sum(c) AS BIGINT) AS n FROM daily GROUP BY b),
    cum AS (
        SELECT b, n,
               sum(n) OVER (ORDER BY b) AS cum,
               sum(n) OVER () AS total
        FROM merged
    ),
    qs AS (SELECT CAST(unnest([{", ".join(str(q) for q in QH_QUANTILES)}])
                       AS DOUBLE) AS q)
    SELECT q,
           min(b) AS bucket,
           CAST({QH_WIDTH} AS DOUBLE) * (min(b) + 1) AS upper_edge,
           CAST(max(total) AS BIGINT) AS n_total
    FROM qs JOIN cum ON cum.cum >= ceil(q * cum.total)
    GROUP BY q
    """,
    description="mergeable QUANTILE sketch rollup: per-day equi-width "
    "histograms (the bounded, exactly-mergeable counterpart of the HLL "
    "rollup in q_sketch_merge) merged by integer count addition, then "
    "q50/q95/q99 read off the cumulative histogram — all exact integer "
    "arithmetic plus one identical IEEE bucket expression, hash-verified; "
    "merge identity (daily sketches summed == one-shot histogram) is "
    "associativity of + and asserted in tests",
)
def q_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental quantile monitoring for a training-data pipeline: each
    ingest day keeps a (bucket → count) histogram sketch; history never
    rescans — merging is a per-bucket sum, and any quantile is the first
    bucket whose cumulative count reaches ⌈q·n⌉, with error bounded by the
    bucket width. At 100 TB the daily sketch aggregation is the only
    corpus-sized shuffle; the merge and quantile extraction run on ≤256
    rows per sketch regardless of corpus size (the bounded single-
    partition windows here are over the 256-bucket histogram, never data).
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / QH_WIDTH), F.lit(0)),
        F.lit(QH_BUCKETS - 1),
    ).cast("bigint")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), bucket.alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    merged = daily.groupBy("b").agg(F.sum("c").alias("n"))
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = merged.select(
        "b", "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    qs = local_frame(spark, [(q,) for q in QH_QUANTILES], "q double")
    return (
        qs.join(cum, F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy("q")
        .agg(F.min("b").alias("bucket"), F.max("total").alias("n_total"))
        .select(
            "q",
            "bucket",
            (F.lit(QH_WIDTH) * (F.col("bucket") + 1)).alias("upper_edge"),
            "n_total",
        )
    )


# ---------------------------------------------------------------------------
# q_bloom_join — manual Bloom-filter semi-join reduction
# ---------------------------------------------------------------------------

BLOOM_BITS = 1024
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_TOP = 100  # small-side keys (top orders by price)


@query(
    "q_bloom_join",
    # the bloom filter is conservative (false positives only) and the real
    # join removes them, so the result is EXACTLY the plain join — the
    # oracle needs no bloom at all
    oracle="""
    WITH top AS (
        SELECT o_orderkey, o_orderpriority
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN top ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    description="manual Bloom-filter semi-join reduction: the 100 small-"
    "side keys hash into a 1024-bit filter built DISTRIBUTED (explode "
    "positions → per-word bit_or; driver receives 16 longs), the fact "
    "side is prefiltered map-side by two portable md5 bit tests before "
    "the broadcast join — the runtime-filter technique that cuts fact "
    "shuffle/probe volume at 100 TB, provably lossless because Bloom "
    "false positives die in the real join (result hash-equal to the "
    "plain join oracle)",
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's own InjectRuntimeFilter does this automatically for some
    shapes; spelling it out keeps the technique available when the
    optimizer won't (e.g. a key set produced by an arbitrary upstream
    query) and proves the engine-portable hash discipline supports it.
    Driver traffic is 16 longs — the same bounded-sidecar pattern as the
    IVF centroids. The filter: bit positions p₁, p₂ = md5-derived
    buckets of the key; membership test is word[p/64] >> (p%64) & 1 for
    both."""
    from go_web_mapreduce_spark.functions.hashing import md5_bucket

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    top = (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(BLOOM_TOP)
        .select("o_orderkey", "o_orderpriority")
    )
    okey = F.col("o_orderkey").cast("string")
    positions = top.select(
        F.explode(
            F.array(
                md5_bucket(okey, BLOOM_BITS, salt=1),
                md5_bucket(okey, BLOOM_BITS, salt=2),
            )
        ).alias("p")
    )
    words = (
        positions.groupBy((F.col("p") / 64).cast("int").alias("w"))
        # SQL shiftleft takes a per-row bit count; the PySpark wrapper
        # only accepts an int literal, hence expr
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, cast(p % 64 AS int))")
            ).alias("bits")
        )
        .collect()
    )
    wmap = {int(r["w"]): int(r["bits"]) for r in words}
    lits_sql = "array(" + ", ".join(
        f"{wmap.get(w, 0)}L" for w in range(BLOOM_WORDS)
    ) + ")"

    lkey = F.col("l_orderkey").cast("string")
    staged = lineitem.select(
        "l_orderkey",
        "l_extendedprice",
        md5_bucket(lkey, BLOOM_BITS, salt=1).alias("_p1"),
        md5_bucket(lkey, BLOOM_BITS, salt=2).alias("_p2"),
    )

    def bit_test(col: str) -> str:
        return (
            f"((shiftright(element_at({lits_sql}, cast({col} / 64 AS int) + 1),"
            f" cast({col} % 64 AS int)) & 1L) = 1L)"
        )

    pref = staged.filter(F.expr(bit_test("_p1")) & F.expr(bit_test("_p2")))
    joined = pref.join(
        F.broadcast(top), pref["l_orderkey"] == top["o_orderkey"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q_anomaly_mad — robust outlier detection (Hampel / MAD filter)
# ---------------------------------------------------------------------------

# Hampel identifier: |x - median| > MAD_NSIGMA * 1.4826 * MAD flags x.
# 1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD a consistent σ estimator under normality;
# one double multiply, identical in both engines.
MAD_NSIGMA = 3.0
MAD_CONSISTENCY = 1.4826


@query(
    "q_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, max(med) AS med,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY ad) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, m.med, m.mad,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d.ad > {MAD_NSIGMA} * ({MAD_CONSISTENCY} * m.mad)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.med, m.mad
    """,
    description="robust outlier detection (Hampel identifier): per event "
    "type, median and MAD of value, and the count of rows whose absolute "
    "deviation exceeds 3·1.4826·MAD — the data-quality gate that survives "
    "the heavy-tailed metrics that break mean/stddev z-scores; exact "
    "medians as the correctness baseline",
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggregation passes on event_type (median, then median of
    absolute deviations) with the per-type medians broadcast back between
    them — the corpus is scanned twice and shuffled zero times (the
    percentile aggs shuffle only per-group state; the joins are broadcast).
    Exact percentile buffers each group's values, so at 100 TB swap the
    two F.percentile calls for approx_percentile (same plan shape, same
    flags modulo sketch error) or maintain the q_quantile_rollup
    histogram sketch instead; the Hampel flag arithmetic is one abs-diff
    and one compare per row either way. Exactness baseline kept here so
    the whole chain hash-verifies against DuckDB (F.percentile ≡
    percentile_cont, the q_percentiles-proven pairing)."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.percentile("ad", F.lit(0.5)).alias("mad"),
    )
    flagged = dev.select("event_type", "ad").join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type", "med", "mad").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                F.col("ad")
                > F.lit(MAD_NSIGMA) * (F.lit(MAD_CONSISTENCY) * F.col("mad")),
                1,
            ).otherwise(0)
        ).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# q_heavy_hitters_cms — count-min sketch word frequencies
# ---------------------------------------------------------------------------

# sketch geometry: d=4 independent md5-derived hash rows x w=512 counters.
# Standard CM guarantees (Cormode & Muthukrishnan 2005, public):
# overestimate-only, error <= e*N/w with prob 1-e^-d per query.
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TOPK = 20

# DuckDB mirror of functions/text.py::tokens (module-local copy, same as the
# dedup/text_analysis modules)
_CMS_TK = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


@query(
    "q_heavy_hitters_cms",
    oracle=f"""
    WITH toks AS (SELECT {_CMS_TK} AS tk FROM documents),
    words AS (SELECT unnest(tk) AS w FROM toks),
    wc AS (SELECT w, count(*) AS c FROM words GROUP BY w),
    cells AS (
      SELECT j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8))::BIGINT
               % {CMS_WIDTH} AS b,
             CAST(sum(c) AS BIGINT) AS cnt
      FROM wc, unnest(range(0, {CMS_DEPTH})) AS t(j)
      GROUP BY j, b
    ),
    top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT {CMS_TOPK}),
    probes AS (
      SELECT w, c, j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8))::BIGINT
               % {CMS_WIDTH} AS b
      FROM top, unnest(range(0, {CMS_DEPTH})) AS t(j)
    )
    SELECT p.w AS word,
           CAST(min(p.c) AS BIGINT) AS true_cnt,
           CAST(min(cl.cnt) AS BIGINT) AS cms_est
    FROM probes p JOIN cells cl ON p.j = cl.j AND p.b = cl.b
    GROUP BY p.w
    """,
    description="count-min sketch heavy hitters: 4x512 md5-derived CM sketch "
    "vs exact counts for the top-20 words (extension mandate: sketches)",
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus word stream, probed at the true
    top-``CMS_TOPK`` words: ``(word, true_cnt, cms_est)`` with
    ``cms_est >= true_cnt`` guaranteed (CM sketches only overestimate).

    Scale shape — the reason CM matters at 100 TB: the sketch is a
    FIXED-SIZE aggregate. Building it is a groupBy over (row, bucket) with
    cardinality <= d*w = 2,048, so map-side partial aggregation collapses
    each input partition to <= 2,048 rows before the shuffle — sketch
    construction shuffles O(d*w) bytes per partition regardless of corpus
    size, and sketches of disjoint corpus shards MERGE by cell-wise sum
    (the same algebraic-merge discipline as q_ivm_merge/q_sketch_merge).
    The exact word count this query compares against is the expensive part
    (a full distinct-word shuffle) — kept here because the query's POINT is
    the measured estimate-vs-truth table; a production 100 TB run keeps
    only the sketch side plus a per-partition candidate heap.

    Hashing is the portable md5 family (functions/hashing.py::md5_bucket)
    so the DuckDB oracle replays the exact same sketch, cell for cell.
    """
    from go_web_mapreduce_spark.functions.hashing import md5_bucket
    from go_web_mapreduce_spark.operators.relational import token_counts

    wc = token_counts(load_table(spark, sf_dir, "documents"))
    # build the d x w counter table from the reduced (word, count) set:
    # one row per (hash row j, bucket) — explode is x4 map-side, partial
    # agg bounds the shuffle at d*w rows per partition
    rows = F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
    cells = (
        wc.select("n", F.explode(rows).alias("j"), "word")
        .select(
            "j",
            # md5_bucket(word, w, salt=j) replayed per row j; salt equals j
            # so the oracle's CAST(j AS VARCHAR)||':'||w matches exactly
            F.when(F.col("j") == 0, md5_bucket(F.col("word"), CMS_WIDTH, salt=0))
            .when(F.col("j") == 1, md5_bucket(F.col("word"), CMS_WIDTH, salt=1))
            .when(F.col("j") == 2, md5_bucket(F.col("word"), CMS_WIDTH, salt=2))
            .otherwise(md5_bucket(F.col("word"), CMS_WIDTH, salt=3))
            .alias("b"),
            "n",
        )
        .groupBy("j", "b")
        .agg(F.sum("n").alias("cnt"))
    )
    top = wc.orderBy(F.desc("n"), "word").limit(CMS_TOPK)
    probes = top.select(
        "word",
        "n",
        F.explode(rows).alias("j"),
    ).select(
        "word",
        "n",
        "j",
        F.when(F.col("j") == 0, md5_bucket(F.col("word"), CMS_WIDTH, salt=0))
        .when(F.col("j") == 1, md5_bucket(F.col("word"), CMS_WIDTH, salt=1))
        .when(F.col("j") == 2, md5_bucket(F.col("word"), CMS_WIDTH, salt=2))
        .otherwise(md5_bucket(F.col("word"), CMS_WIDTH, salt=3))
        .alias("b"),
    )
    # the counter table is <= d*w = 2,048 rows -> broadcast the probe join
    return (
        probes.join(F.broadcast(cells), ["j", "b"])
        .groupBy("word")
        .agg(
            F.min("n").alias("true_cnt"),
            F.min("cnt").alias("cms_est"),
        )
    )


# ---------------------------------------------------------------------------
# q_jackknife_ci — deterministic (RNG-free) error bars for a corpus metric
# ---------------------------------------------------------------------------

JK_BUCKETS = 32  # leave-one-out folds; hash-assigned, so reproducible
JK_Z = 1.96  # normal 95% interval half-width in SEs


@query(
    "q_jackknife_ci",
    oracle=f"""
    WITH bkt AS (
      SELECT l_returnflag AS flag,
             ('0x' || substr(md5('jk:' || l_orderkey::VARCHAR), 1, 4))::BIGINT
               % {JK_BUCKETS} AS b,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS DOUBLE) / 100.0 AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (
      SELECT flag, CAST(CAST(sum(CAST(s AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS st,
             CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS nb
      FROM bkt GROUP BY flag
    ),
    loo AS (
      SELECT b.flag, (t.st - b.s) / (t.nt - b.n) AS m, t.st, t.nt, t.nb
      FROM bkt b JOIN tot t ON t.flag = b.flag
    ),
    jk AS (
      SELECT flag,
             CAST(CAST(sum(CAST(m AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
               / nb AS mbar,
             st, nt, nb
      FROM loo GROUP BY flag, st, nt, nb
    ),
    se AS (
      SELECT l.flag,
             sqrt((l.nb - 1.0) / l.nb *
                  CAST(CAST(sum(CAST((l.m - j.mbar) * (l.m - j.mbar)
                                     AS DECIMAL(18,12))) AS STRING) AS DOUBLE))
               AS jk_se,
             j.mbar, l.st, l.nt
      FROM loo l JOIN jk j ON j.flag = l.flag
      GROUP BY l.flag, j.mbar, l.st, l.nt, l.nb
    )
    SELECT flag AS l_returnflag, st / nt AS mean_price, jk_se,
           st / nt - {JK_Z} * jk_se AS ci_lo,
           st / nt + {JK_Z} * jk_se AS ci_hi,
           CAST(nt AS BIGINT) AS n
    FROM se
    """,
    description="deterministic jackknife 95% CI for mean extended price "
    f"per return flag: rows hash into {JK_BUCKETS} reproducible folds "
    "(md5 of the order key — no RNG, identical folds on any cluster/"
    "partitioning), leave-one-fold-out means give the delete-d jackknife "
    "standard error — the error-bar primitive for any corpus statistic "
    "where rerunning with a different seed is not acceptable. Plan: ONE "
    "corpus aggregation to (flag, fold) exact integer-cent partial sums "
    f"(≤ {JK_BUCKETS} rows per flag), everything after is "
    "dimension-sized; fold means and squared deviations go through "
    "decimal casts so every engine sums them identically",
)
def q_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum

    li = load_table(spark, sf_dir, "lineitem")
    # corpus-facing stage in exact integer cents + a 16-bit fold hash
    # (65536 % JK_BUCKETS == 0, so no modulo bias); fan_out because the
    # md5 work is CPU-bound on a byte-sized scan — see q_bootstrap_ci
    p100 = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    li = fan_out(li.select("l_returnflag", "l_orderkey", p100.alias("p100")))
    bkt = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("jk:"), F.col("l_orderkey").cast("string"))), 1, 4),
                16, 10,
            ).cast("bigint")
            % JK_BUCKETS
        ).alias("b"),
    ).agg(
        (F.sum("p100").cast("double") / 100.0).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    tot = bkt.groupBy("flag").agg(
        dsum("s").alias("st"), F.sum("n").alias("nt"), F.count(F.lit(1)).alias("nb")
    )
    loo = bkt.join(tot, "flag").select(
        "flag",
        ((F.col("st") - F.col("s")) / (F.col("nt") - F.col("n"))).alias("m"),
        "st", "nt", "nb",
    )
    jk = loo.groupBy("flag", "st", "nt", "nb").agg(
        (dsum("m", 8) / F.col("nb")).alias("mbar")
    ).select("flag", "mbar")
    se = (
        loo.join(jk, "flag")
        .groupBy("flag", "mbar", "st", "nt", "nb")
        .agg(
            F.sqrt(
                (F.col("nb") - 1.0) / F.col("nb")
                * dsum((F.col("m") - F.col("mbar")) * (F.col("m") - F.col("mbar")), 12)
            ).alias("jk_se")
        )
    )
    return se.select(
        F.col("flag").alias("l_returnflag"),
        (F.col("st") / F.col("nt")).alias("mean_price"),
        "jk_se",
        (F.col("st") / F.col("nt") - JK_Z * F.col("jk_se")).alias("ci_lo"),
        (F.col("st") / F.col("nt") + JK_Z * F.col("jk_se")).alias("ci_hi"),
        F.col("nt").alias("n"),
    )


# ---------------------------------------------------------------------------
# q_bootstrap_ci — deterministic Poisson bootstrap (hash-derived weights)
# ---------------------------------------------------------------------------

BS_REPS = 32  # bootstrap replicates
BS_Z = 1.96
# Poisson(1) CDF at k = 0..6: a row's replicate weight is the number of
# thresholds at or below its hash-uniform, i.e. the inverse-CDF draw capped
# at 7 (P[w > 7] ~ 8e-5; the SAME cap applies in the oracle, so the capped
# distribution is what both engines compute).
BS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)

# The inverse-CDF is evaluated WITHOUT floats: the replicate's 16-bit
# uniform is a fixed-width lowercase-hex substring of the row's md5, and
# for same-length lowercase hex, lexicographic >= IS numeric >= — so the
# thresholds are the hex renderings of ceil(CDF * 2^16) and the whole draw
# is string comparisons (no conv/parse, trivially engine-portable).
BS_HEX = tuple(format(__import__("math").ceil(t * 65536), "04x") for t in BS_CDF)


def _bs_oracle_w(chunk: str) -> str:
    return " + ".join(
        f"CASE WHEN {chunk} >= '{h}' THEN 1 ELSE 0 END" for h in BS_HEX
    )


_BS_ORACLE = f"""
WITH ur AS (
  SELECT l_returnflag AS flag, r,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p100,
         substr(md5('bs' || (r // 8)::VARCHAR || ':' || l_orderkey::VARCHAR),
                1 + 4 * (r % 8), 4) AS ch
  FROM lineitem CROSS JOIN (SELECT unnest(range({BS_REPS})) AS r) t
),
rep AS (
  SELECT flag, r,
         CAST(sum(p100 * ({_bs_oracle_w('ch')})) AS DOUBLE) / 100.0 AS s,
         CAST(sum({_bs_oracle_w('ch')}) AS BIGINT) AS n
  FROM ur GROUP BY 1, 2
),
tot AS (
  SELECT l_returnflag AS flag,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS DOUBLE) / 100.0 AS st,
         CAST(count(*) AS BIGINT) AS nt
  FROM lineitem GROUP BY 1
),
dev AS (
  SELECT rep.flag, tot.st, tot.nt, rep.s / rep.n - tot.st / tot.nt AS d
  FROM rep JOIN tot ON tot.flag = rep.flag
),
se AS (
  SELECT flag, st, nt,
         sqrt((CAST(CAST(sum(CAST(d * d AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
               - CAST(CAST(sum(CAST(d AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
                 * CAST(CAST(sum(CAST(d AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
                 / {BS_REPS}) / ({BS_REPS} - 1)) AS boot_se
  FROM dev GROUP BY flag, st, nt
)
SELECT flag AS l_returnflag, st / nt AS mean_price, boot_se,
       st / nt - {BS_Z} * boot_se AS ci_lo,
       st / nt + {BS_Z} * boot_se AS ci_hi,
       nt AS n
FROM se
"""


def _bs_weight(r: int) -> "F.Column":
    """Poisson(1) inverse-CDF weight for replicate ``r`` of the current row.

    Replicates ``8j .. 8j+7`` share one md5 (its 32 hex chars = eight
    16-bit uniforms); the common subexpression is eliminated by codegen, so
    a row pays {BS_REPS}/8 hashes and {BS_REPS}x7 string compares — no
    float, no base conversion. Measured 7x faster than the one-md5-per-
    replicate conv() formulation at sf0.1 (37 s -> ~5 s for the query)."""
    h = F.md5(
        F.concat(F.lit(f"bs{r // 8}:"), F.col("l_orderkey").cast("string"))
    )
    chunk = F.substring(h, 1 + 4 * (r % 8), 4)
    w = F.lit(0)
    for hx in BS_HEX:
        w = w + F.when(chunk >= hx, 1).otherwise(0)
    return w


@query(
    "q_bootstrap_ci",
    oracle=_BS_ORACLE,
    description="deterministic Poisson bootstrap SE/CI for mean extended "
    f"price per return flag: each of {BS_REPS} replicates reweights every "
    "row by a Poisson(1) draw — the classic resampling-without-"
    "materializing trick (Poisson bootstrap), made RNG-free so any "
    "cluster/partitioning reproduces it bit-for-bit. Draws are 16-bit "
    "hex substrings of md5(row key) compared against hex-rendered CDF "
    "thresholds (8 replicates per hash, zero float ops, zero base "
    "conversions — lexicographic = numeric for fixed-width hex). "
    "Plan: ONE corpus scan computing all replicate weighted sums as 2×"
    f"{BS_REPS} aggregate columns (map-side partial agg, no explode, no "
    f"{BS_REPS}x shuffle), then a stack() unpivot of the 3-row wide result "
    "and dimension-sized variance math under the decimal-cast discipline. "
    "The oracle replays the identical draws via an explode formulation — "
    "scale-irrelevant there",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum  # noqa: F401 (se stage)

    li = load_table(spark, sf_dir, "lineitem")
    # exact integer cents: the money column has 2 decimal places, so every
    # replicate sum is a plain BIGINT aggregate — order-independent like the
    # decimal discipline but ~3x cheaper across 2x32 aggregate columns.
    # (Bounded to 2^53-exact doubles through ~sf10000; beyond that, switch
    # the accumulator back to dsum and pay the decimal constant.)
    p100 = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    # the md5 draws are CPU-bound and the scan is byte-sized (3 partitions
    # at sf0.1) — widen to cluster parallelism; a no-op on a real corpus
    li = fan_out(li.select("l_returnflag", "l_orderkey", p100.alias("p100")))
    # every replicate weight depends ONLY on l_orderkey — never on the line —
    # so collapse the corpus to its (flag, orderkey) partial sums FIRST and
    # evaluate the 4 md5 + 32x7 hex compares once per group instead of once
    # per line (guide §2.3 "aggregate before you shuffle" applied to the
    # hash kernel: lineitem has ~4 lines per (flag, order) group). Exact:
    # s_r = Σ_rows p100·w = Σ_groups (Σ_rows p100)·w and n_r = Σ_groups
    # cnt·w — all BIGINT algebra, bit-free of float concerns.
    per_ok = li.groupBy(
        F.col("l_returnflag").alias("flag"), "l_orderkey"
    ).agg(F.sum("p100").alias("g100"), F.count(F.lit(1)).alias("gn"))
    aggs = [
        F.sum("g100").alias("stb"),
        F.sum("gn").alias("nt"),
    ]
    for r in range(BS_REPS):
        w = _bs_weight(r)
        aggs.append(F.sum(F.col("g100") * w).alias(f"s_{r}"))
        aggs.append(F.sum(F.col("gn") * w).alias(f"n_{r}"))
    wide = per_ok.groupBy("flag").agg(*aggs)

    stack_args = ", ".join(f"s_{r}, n_{r}" for r in range(BS_REPS))
    rep = wide.select(
        "flag",
        (F.col("stb").cast("double") / 100.0).alias("st"),
        "nt",
        F.expr(f"stack({BS_REPS}, {stack_args}) as (sb, n)"),
    ).select(
        "flag", "st", "nt",
        (
            F.col("sb").cast("double") / 100.0 / F.col("n")
            - F.col("st") / F.col("nt")
        ).alias("d"),
    )
    se = rep.groupBy("flag", "st", "nt").agg(
        F.sqrt(
            (
                dsum(F.col("d") * F.col("d"), 8)
                - dsum("d", 8) * dsum("d", 8) / BS_REPS
            )
            / (BS_REPS - 1)
        ).alias("boot_se")
    )
    return se.select(
        F.col("flag").alias("l_returnflag"),
        (F.col("st") / F.col("nt")).alias("mean_price"),
        "boot_se",
        (F.col("st") / F.col("nt") - BS_Z * F.col("boot_se")).alias("ci_lo"),
        (F.col("st") / F.col("nt") + BS_Z * F.col("boot_se")).alias("ci_hi"),
        F.col("nt").alias("n"),
    )


# ---------------------------------------------------------------------------
# q_ab_ztest — hash-armed A/B comparison with a Welch z statistic
# ---------------------------------------------------------------------------

AB_Z_CRIT = 1.96  # two-sided 5%


@query(
    "q_ab_ztest",
    oracle=f"""
    WITH per_user AS (
      SELECT event_type, user_id,
             ('0x' || substr(md5('ab:' || user_id::VARCHAR), 1, 4))::BIGINT % 2
               AS arm,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    arm_stats AS (
      SELECT event_type, arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(x AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sx,
             CAST(CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS sxx
      FROM per_user GROUP BY 1, 2
    ),
    wide AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.sx / a.n AS mean_a, b.sx / b.n AS mean_b,
             (a.sxx - a.sx * a.sx / a.n) / (a.n - 1) AS var_a,
             (b.sxx - b.sx * b.sx / b.n) / (b.n - 1) AS var_b
      FROM arm_stats a JOIN arm_stats b
        ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
    )
    SELECT event_type, n_a, n_b, mean_a, mean_b,
           (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS z,
           abs((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b))
             > {AB_Z_CRIT} AS significant
    FROM wide
    """,
    description="A/B experiment read-out per event type: users hash into "
    "two arms (md5 — the RNG-free random assignment), the per-user value "
    "total is the unit metric, and the arms compare by a Welch z statistic "
    f"with a two-sided significance flag at z={AB_Z_CRIT} — the "
    "experimentation primitive over the events stream. Plan: one "
    "(type, user) aggregation (the only corpus-sized shuffle), then "
    "(type, arm) decimal moment partials and a types-sized self-join; "
    "variance from exact moments, no second pass",
)
def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        "event_type", "user_id",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 4),
                16, 10,
            ).cast("bigint")
            % 2
        ).alias("arm"),
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("x"))
    arm_stats = per_user.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 4).alias("sx"),
        dsum(F.col("x") * F.col("x"), 6).alias("sxx"),
    )
    a = arm_stats.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_a"), F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa"),
    )
    b = arm_stats.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_b"), F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb"),
    )
    wide = a.join(b, "event_type").select(
        "event_type", "n_a", "n_b",
        (F.col("sxa") / F.col("n_a")).alias("mean_a"),
        (F.col("sxb") / F.col("n_b")).alias("mean_b"),
        (
            (F.col("sxxa") - F.col("sxa") * F.col("sxa") / F.col("n_a"))
            / (F.col("n_a") - 1)
        ).alias("var_a"),
        (
            (F.col("sxxb") - F.col("sxb") * F.col("sxb") / F.col("n_b"))
            / (F.col("n_b") - 1)
        ).alias("var_b"),
    )
    z = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return wide.select(
        "event_type", "n_a", "n_b", "mean_a", "mean_b",
        z.alias("z"),
        (F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# q_spearman — exact rank correlation between two per-order metrics
# ---------------------------------------------------------------------------


@query(
    "q_spearman",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey AS k, l_returnflag AS flag,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS DOUBLE) / 100.0 AS total
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT flag,
             CAST(rank() OVER (PARTITION BY flag ORDER BY n_items) AS DOUBLE)
               + (CAST(count(*) OVER (PARTITION BY flag, n_items) AS DOUBLE) - 1) / 2
               AS rx,
             CAST(rank() OVER (PARTITION BY flag ORDER BY total) AS DOUBLE)
               + (CAST(count(*) OVER (PARTITION BY flag, total) AS DOUBLE) - 1) / 2
               AS ry
      FROM per_order
    ),
    mom AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(rx AS DECIMAL(28,1))) AS STRING) AS DOUBLE) AS sx,
             CAST(CAST(sum(CAST(ry AS DECIMAL(28,1))) AS STRING) AS DOUBLE) AS sy,
             CAST(CAST(sum(CAST(rx * ry AS DECIMAL(28,2))) AS STRING) AS DOUBLE) AS sxy,
             CAST(CAST(sum(CAST(rx * rx AS DECIMAL(28,2))) AS STRING) AS DOUBLE) AS sxx,
             CAST(CAST(sum(CAST(ry * ry AS DECIMAL(28,2))) AS STRING) AS DOUBLE) AS syy
      FROM ranked GROUP BY flag
    )
    SELECT flag AS l_returnflag, n,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS rho
    FROM mom
    """,
    description="exact Spearman rank correlation per return flag between an "
    "order's item count and its total value — the monotone-association "
    "check run between any two quality/metadata signals before using one "
    "as a proxy for the other. Midranks handle ties exactly (rank() plus "
    "half the tie-group size), so rho is the textbook tie-corrected "
    "Pearson-on-ranks; ranks are integers-or-halves, making every moment "
    "sum decimal-exact. Plan: one (order, flag) aggregation, two "
    "rank windows sharing the flag partitioning, a 5-moment reduce",
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (the VERDICT-r11 #1 rewrite): the old plan ranked the
    per-order table with TWO ``Window.partitionBy(flag)`` passes — flag is
    a 3-value key, so at 100 TB each window partition is corpus/3-sized on
    one task, the textbook straggler. Now n_items midranks come from a
    value census — a ≤ flags × ~50-value grid (tiny window over the
    census — the q_kruskal_wallis precedent) — and order-total midranks
    (≈ |orders| distinct, corpus-scaled) from graph.py::range_prefix row
    positions — range shuffle + (pid, flag) offset broadcast, no per-key
    window anywhere. Midrank doubles are constructed by the exact same
    operand/operation sequence as the window form (integer rank +
    (count-1)/2), so every rx/ry — and therefore every decimal moment and
    the final rho — is bit-identical to the oracle's rank()/count()
    formulation."""
    from pyspark.sql import Window as W

    from go_web_mapreduce_spark.operators.graph import range_prefix

    li = load_table(spark, sf_dir, "lineitem")
    p100 = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    per_order = li.groupBy(
        F.col("l_orderkey").alias("k"), F.col("l_returnflag").alias("flag")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(p100).cast("double") / 100.0).alias("total"),
    )

    def midrank(cum_less: F.Column) -> F.Column:
        # rank = 1 + #smaller, plus half the tie group of size c, with the
        # identical double algebra as the window form
        return (cum_less + 1).cast("double") + (
            F.col("c").cast("double") - 1
        ) / 2

    # n_items is a bounded value grid (≤ flags × ~50 at any SF): the census
    # window is dimension-sized, never corpus-sized
    xcen = per_order.groupBy("flag", "n_items").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = W.partitionBy("flag").orderBy("n_items").rowsBetween(
        W.unboundedPreceding, -1
    )
    xr = xcen.select(
        "flag", "n_items",
        midrank(F.coalesce(F.sum("c").over(wv), F.lit(0))).alias("rx"),
    )
    # order totals are ~|orders| distinct — corpus-scaled: rank the orders
    # by range shuffle, no 3-partition window. Tied totals are contiguous
    # in that order, so min(cum_less) per (flag, total) counts the
    # strictly smaller ones.
    yr = (
        range_prefix(per_order, "total", key="flag")
        .groupBy("flag", "total")
        .agg(F.min("cum_less").alias("cum_less"), F.count(F.lit(1)).alias("c"))
        .select("flag", "total", midrank(F.col("cum_less")).alias("ry"))
    )
    ranked = (
        per_order.join(F.broadcast(xr), ["flag", "n_items"])
        .join(yr, ["flag", "total"])
        .select("flag", "rx", "ry")
    )
    # rank moments grow as n^3 — decimal(28,_) accumulators stay exact past
    # 1e26 (dsum's (18,_) would overflow near sf1); the string hop is in
    # the oracle, Spark's BigDecimal->double is correctly rounded already
    def wsum(c, s):
        return F.sum(c.cast(f"decimal(28,{s})")).cast("double")

    mom = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        wsum(F.col("rx"), 1).alias("sx"),
        wsum(F.col("ry"), 1).alias("sy"),
        wsum(F.col("rx") * F.col("ry"), 2).alias("sxy"),
        wsum(F.col("rx") * F.col("rx"), 2).alias("sxx"),
        wsum(F.col("ry") * F.col("ry"), 2).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return mom.select(
        F.col("flag").alias("l_returnflag"),
        n.cast("bigint").alias("n"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("rho"),
    )


# ---------------------------------------------------------------------------
# q_gini — revenue concentration per nation (Gini + top-decile share)
# ---------------------------------------------------------------------------


@query(
    "q_gini",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nation, o.o_custkey AS cust,
             CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nation, cents,
             row_number() OVER (PARTITION BY nation ORDER BY cents, cust) AS i,
             count(*) OVER (PARTITION BY nation) AS n
      FROM rev
    ),
    agg AS (
      SELECT nation, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS tot,
             sum(CAST(i AS DECIMAL(28,0)) * cents) AS iwsum,
             CAST(sum(CASE WHEN i > n - (n + 9) // 10 THEN cents ELSE 0 END)
                  AS BIGINT) AS top_cents
      FROM ranked GROUP BY nation
    )
    SELECT nation, n AS n_customers,
           2.0 * CAST(iwsum AS DOUBLE) / (CAST(n AS DOUBLE) * tot)
             - (CAST(n AS DOUBLE) + 1.0) / n AS gini,
           CAST(top_cents AS DOUBLE) / tot AS top_decile_share
    FROM agg
    """,
    description="revenue-concentration audit per nation: the exact Gini "
    "coefficient of per-customer order revenue (2 sum(i x_i)/(n sum x) - "
    "(n+1)/n over the rank-sorted values) plus the top-decile revenue "
    "share — the how-skewed-is-this-key profile that predicts shuffle hot "
    "spots and informs salting, and the inequality census of any corpus "
    "contribution. All mass in exact integer cents; the rank-weighted "
    "sum accumulates in DECIMAL(28,0) (it grows ~cents*n^2/2 per nation "
    "and would wrap a BIGINT around sf~50-100). Plan: one (nation, "
    "customer) aggregation, a range-shuffled keyed row index "
    "(range_prefix — never a per-nation window), a "
    "nations-sized reduce",
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    rev = (
        orders.select("o_custkey", cents.alias("cents"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nation"), F.col("o_custkey").alias("cust")
        )
        .agg(F.sum("cents").alias("cents"))
    )
    # r12 sibling of the q_spearman rewrite: the per-nation row_number
    # window put corpus/|nations| customer rows on one task at 100 TB.
    # (cents, cust) is a unique total order within nation, so the keyed
    # range prefix gives i = cum_less + 1 exactly; n comes from the
    # nations-sized census broadcast.
    from go_web_mapreduce_spark.operators.graph import range_prefix

    ncen = rev.groupBy("nation").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        range_prefix(rev, ["cents", "cust"], key="nation")
        .join(F.broadcast(ncen), "nation")
        .select(
            "nation", "cents",
            (F.col("cum_less") + 1).alias("i"),
            "n",
        )
    )
    top = F.col("i") > F.col("n") - F.floor((F.col("n") + 9) / 10)
    agg = ranked.groupBy("nation").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
        # rank-weighted sum grows ~cents*n^2/2 per nation: a bigint wraps
        # silently around sf~50-100 (and even the per-row i*cents product
        # can exceed int64), so multiply AND accumulate in decimal(28,0)
        # like q_spearman's rank moments; drop to double only in the ratio
        F.sum(F.col("i").cast("decimal(28,0)") * F.col("cents")).alias("iwsum"),
        F.sum(F.when(top, F.col("cents")).otherwise(0)).cast("bigint").alias("top_cents"),
    )
    return agg.select(
        "nation",
        F.col("n").alias("n_customers"),
        (
            2.0 * F.col("iwsum").cast("double")
            / (F.col("n").cast("double") * F.col("tot"))
            - (F.col("n").cast("double") + 1.0) / F.col("n")
        ).alias("gini"),
        (F.col("top_cents").cast("double") / F.col("tot")).alias("top_decile_share"),
    )


# ---------------------------------------------------------------------------
# q_benford — first-digit law audit of order values
# ---------------------------------------------------------------------------


@query(
    "q_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    cnt AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS t FROM cnt),
    scored AS (
      SELECT digit, n,
             CAST(n AS DOUBLE) / (SELECT t FROM tot) AS frac,
             log10(1.0 + 1.0 / digit) AS expected
      FROM cnt
    ),
    chi AS (
      SELECT CAST(CAST(sum(CAST(
               (frac - expected) * (frac - expected) / expected
               AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
               * (SELECT t FROM tot) AS chi2
      FROM scored
    )
    SELECT digit, n, frac, expected,
           frac - expected AS deviation,
           (SELECT chi2 FROM chi) AS chi2
    FROM scored
    """,
    description="Benford first-digit audit of order values: observed "
    "leading-digit fractions against log10(1+1/d), per-digit deviation, "
    "and the chi-squared distance (8 dof) on every row — the synthetic-"
    "data / fabricated-records smoke alarm for any positive value column "
    "spanning magnitudes. Plan: ONE scan to a 9-row digit census via "
    "string head of the integer part (no float log per row); everything "
    "after is 9-row arithmetic",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1.0
    )
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    cnt = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    total = cnt.agg(F.sum("n")).first()[0]
    scored = cnt.select(
        "digit", "n",
        (F.col("n").cast("double") / F.lit(float(total))).alias("frac"),
        F.log10(1.0 + 1.0 / F.col("digit")).alias("expected"),
    )
    chi = scored.agg(
        (
            dsum(
                (F.col("frac") - F.col("expected"))
                * (F.col("frac") - F.col("expected"))
                / F.col("expected"),
                12,
            )
            * F.lit(float(total))
        ).alias("chi2")
    )
    return scored.crossJoin(F.broadcast(chi)).select(
        "digit", "n", "frac", "expected",
        (F.col("frac") - F.col("expected")).alias("deviation"),
        "chi2",
    )


# ---------------------------------------------------------------------------
# q_winsorized_mean — robust location with tail clamping (5% / 95%)
# ---------------------------------------------------------------------------

WINSOR_LO = 0.05
WINSOR_HI = 0.95


@query(
    "q_winsorized_mean",
    oracle=f"""
    WITH census AS (
      SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, value,
             sum(c) OVER (PARTITION BY event_type ORDER BY value
                          ROWS UNBOUNDED PRECEDING) AS cm,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM census
    ),
    cuts AS (
      SELECT event_type,
             min(CASE WHEN cm >= ceil({WINSOR_LO} * n) THEN value END) AS lo,
             min(CASE WHEN cm >= ceil({WINSOR_HI} * n) THEN value END) AS hi
      FROM cum GROUP BY event_type
    ),
    clamped AS (
      SELECT e.event_type, c.lo, c.hi,
             CASE WHEN e.value < c.lo THEN c.lo
                  WHEN e.value > c.hi THEN c.hi
                  ELSE e.value END AS w,
             e.value,
             CASE WHEN e.value < c.lo THEN 1 ELSE 0 END AS is_lo,
             CASE WHEN e.value > c.hi THEN 1 ELSE 0 END AS is_hi
      FROM events e JOIN cuts c USING (event_type)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           max(lo) AS lo, max(hi) AS hi,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
             / count(*) AS raw_mean,
           CAST(CAST(sum(CAST(w AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
             / count(*) AS winsor_mean,
           CAST(sum(is_lo) AS BIGINT) AS n_clamped_lo,
           CAST(sum(is_hi) AS BIGINT) AS n_clamped_hi
    FROM clamped GROUP BY event_type
    """,
    description="winsorized mean per event type: values clamped to the "
    f"[{WINSOR_LO:.0%}, {WINSOR_HI:.0%}] percentiles before averaging, "
    "reported beside the raw mean and the clamp counts — the robust "
    "location estimate for heavy-tailed metrics (the MAD filter's "
    "aggregate sibling: q_anomaly_mad flags rows, this repairs the "
    "statistic). Cuts are DISCRETE percentiles selected by explicit rank "
    "over the (type, value) census — the cut is an actual 2-decimal data "
    "value, so clamp comparisons cannot flip on interpolation ulp (the "
    "continuous cut flipped a tie count at sf1). Plan: one census "
    "aggregation (value-cardinality-sized), a dimension-sized cumulative "
    "window, cuts broadcast back onto the scan, one decimal-sum pass; at "
    "100 TB swap the census for approx_percentile, same shape",
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum

    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    # DISCRETE percentiles by explicit rank selection over the value census:
    # the cut is an actual data value (2 decimals, exactly representable),
    # so the clamp comparisons are ulp-proof in both engines — interpolated
    # percentile_cont cuts flipped a tie count by 50 rows at sf1
    census = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    wt = W.partitionBy("event_type")
    cum = census.select(
        "event_type", "value",
        F.sum("c").over(wt.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cm"),
        F.sum("c").over(wt).alias("n"),
    )
    cuts = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cm") >= F.ceil(WINSOR_LO * F.col("n")), F.col("value"))
        ).alias("lo"),
        F.min(
            F.when(F.col("cm") >= F.ceil(WINSOR_HI * F.col("n")), F.col("value"))
        ).alias("hi"),
    )
    clamped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type", "lo", "hi", "value",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
        .alias("w"),
        F.when(F.col("value") < F.col("lo"), 1).otherwise(0).alias("is_lo"),
        F.when(F.col("value") > F.col("hi"), 1).otherwise(0).alias("is_hi"),
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        (dsum("value", 6) / F.count(F.lit(1))).alias("raw_mean"),
        (dsum("w", 6) / F.count(F.lit(1))).alias("winsor_mean"),
        F.sum("is_lo").cast("bigint").alias("n_clamped_lo"),
        F.sum("is_hi").cast("bigint").alias("n_clamped_hi"),
    )


# ---------------------------------------------------------------------------
# q_profile_table — per-column data-profiling census (the ingest health check)
# ---------------------------------------------------------------------------

# canonical cross-engine string representation per column: integers via
# plain cast, doubles through DECIMAL(18,2) (both engines print the exact
# scaled form, e.g. '1234.50'), timestamps via an explicit format string —
# min/max/distinct/length are then defined over the SAME text in both
# engines, the standard profiling convention
_PROFILE_COLS_SPARK = {
    "o_orderkey": lambda: F.col("o_orderkey").cast("string"),
    "o_custkey": lambda: F.col("o_custkey").cast("string"),
    "o_orderstatus": lambda: F.col("o_orderstatus"),
    "o_totalprice": lambda: F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
    "o_orderdate": lambda: F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
    "o_orderpriority": lambda: F.col("o_orderpriority"),
}
_PROFILE_COLS_SQL = {
    "o_orderkey": "CAST(o_orderkey AS STRING)",
    "o_custkey": "CAST(o_custkey AS STRING)",
    "o_orderstatus": "o_orderstatus",
    "o_totalprice": "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)",
    "o_orderdate": "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')",
    "o_orderpriority": "o_orderpriority",
}


def _profile_oracle() -> str:
    parts = []
    for name, expr in _PROFILE_COLS_SQL.items():
        parts.append(f"""
    SELECT '{name}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(v) AS BIGINT) AS n_null,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           min(v) AS min_v, max(v) AS max_v,
           CAST(sum(length(v)) AS DOUBLE) / count(v) AS avg_len
    FROM (SELECT {expr} AS v FROM orders) t_{name}""")
        # length sums are exact integers, so avg_len is one IEEE division of
        # identical operands — no decimal detour needed
    return " UNION ALL ".join(parts)


@query(
    "q_profile_table",
    oracle=_profile_oracle(),
    description="per-column data-profiling census of the orders table — "
    "row count, null count, distinct count, lexicographic min/max, and "
    "mean rendered length over a CANONICAL cross-engine string "
    "representation per column (ints plain, doubles through "
    "DECIMAL(18,2), timestamps through one explicit format) — the "
    "schema-drift / ingest-health check every pipeline runs before "
    "training data is trusted. Plan: one single-row aggregate per "
    "column, unioned — each scan is column-pruned to exactly its column "
    "(parquet projection) with map-side partial aggregation, so the six "
    "profiles parallelize independently and nothing corpus-sized "
    "shuffles except the per-column DISTINCT. At 100 TB swap "
    "count_distinct for approx_count_distinct (the q_approx_distinct_native "
    "pattern) — same plan, bounded state",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling belongs to the engine, not a notebook: the reference's
    operator surface has no census (extension mandate — pipeline ops)."""
    orders = load_table(spark, sf_dir, "orders")
    profiles = []
    for name, make in _PROFILE_COLS_SPARK.items():
        v = make().alias("v")
        profiles.append(
            orders.select(v).agg(
                F.lit(name).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
                F.count_distinct("v").alias("n_distinct"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
                (F.sum(F.length("v")).cast("double") / F.count("v")).alias("avg_len"),
            ).select(
                "column_name", "n_rows", "n_null", "n_distinct",
                "min_v", "max_v", "avg_len",
            )
        )
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# q_rfm_segments — recency/frequency/monetary quintile segmentation
# ---------------------------------------------------------------------------

RFM_Q = 5  # quintiles; segment ids are 1 (best) .. 5


def _ntile_from_pos(pos, nn, q: int):
    """Exact ntile(q) bucket from a 1-based global rank ``pos`` and total
    row count ``nn`` (both Columns): SQL ntile gives the first ``nn % q``
    buckets ``nn div q + 1`` rows and the rest ``nn div q`` — reproduced
    arithmetically so a distributed global rank can replace the single-
    partition ntile window with bit-identical bucket boundaries."""
    sz = F.floor(nn / F.lit(q)).cast("long")
    rem = (nn % F.lit(q)).cast("long")
    cut = rem * (sz + 1)  # rows 1..cut live in the (sz+1)-sized buckets
    return (
        F.when(pos <= cut, F.floor((pos - 1) / (sz + 1)) + 1)
        .otherwise(rem + F.floor((pos - cut - 1) / sz) + 1)
        .cast("int")
    )


def _global_ntile(u: DataFrame, metric: str, out: str) -> DataFrame:
    """(user_id, ``out``) with ``out`` = ntile(RFM_Q) over
    (``metric`` DESC, user_id) — computed via the range-partitioned
    range_prefix (descending realized by negating the integral metric),
    never a single-partition window."""
    from go_web_mapreduce_spark.operators.graph import range_prefix

    nn_df = u.agg(F.count(F.lit(1)).alias("nn"))
    ranked = range_prefix(
        u.select("user_id", (-F.col(metric)).alias("neg_m")),
        ["neg_m", "user_id"],
    )
    return (
        ranked.join(F.broadcast(nn_df))
        .select(
            "user_id",
            _ntile_from_pos(F.col("cum_less") + 1, F.col("nn"), RFM_Q).alias(out),
        )
    )


@query(
    "q_rfm_segments",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             max(epoch_us(ts)) AS last_us,
             count(*) AS n_events,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS cents
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, cents,
             ntile({RFM_Q}) OVER (ORDER BY last_us DESC, user_id) AS r_q,
             ntile({RFM_Q}) OVER (ORDER BY n_events DESC, user_id) AS f_q,
             ntile({RFM_Q}) OVER (ORDER BY cents DESC, user_id) AS m_q
      FROM u
    )
    SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
           CAST(m_q AS INT) AS m_q,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM scored GROUP BY 1, 2, 3
    """,
    description=f"RFM segmentation: every user scored into {RFM_Q} "
    "quintiles on Recency (last event time), Frequency (event count) and "
    "Monetary (exact purchase cents), quintile 1 = best; per-(r,f,m)-"
    "segment user counts and revenue — the classic lifecycle census "
    "(champions / at-risk / hibernating) behind retention targeting. "
    "Every scored quantity is an exact integer and each ntile ORDER BY "
    "carries user_id as the total-order tie-break, so the segment "
    "assignment is engine-identical and the census hash-verifies",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus shuffle to the per-user grid (six traversals follow);
    each quintile is then a range-partitioned global
    rank (graph.py::range_prefix — range shuffle + local sort +
    partition-count prefix sum) folded through the exact ntile bucket
    arithmetic (_ntile_from_pos), so NO corpus-scaled data ever moves to
    a single partition — the plan that survives billions of users. The
    descending orders are realized by negating the integral metrics
    (exact for longs), user_id stays the total-order tie-break, and the
    bucket formula reproduces SQL ntile's uneven-bucket rule exactly, so
    the census hash still matches the oracle's ntile verbatim. Monetary
    is integer cents end to end (round(v*100) matches the DECIMAL(18,2)
    rendering of the 2-decimal fixture exactly in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.expr("ts_ns div 1000")).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("cents"),
    )
    scored = (
        u.select("user_id", "cents")
        .join(_global_ntile(u, "last_us", "r_q"), "user_id")
        .join(_global_ntile(u, "n_events", "f_q"), "user_id")
        .join(_global_ntile(u, "cents", "m_q"), "user_id")
    )
    return scored.groupBy(
        F.col("r_q").cast("int").alias("r_q"),
        F.col("f_q").cast("int").alias("f_q"),
        F.col("m_q").cast("int").alias("m_q"),
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# q_hll_overlap — sketch-algebra audience overlap (inclusion–exclusion)
# ---------------------------------------------------------------------------


def _hll_overlap_oracle() -> str:
    from go_web_mapreduce_spark.functions import hll as _hll

    val = "CAST(user_id AS VARCHAR)"
    est = _hll.hll_estimate_sql_duckdb("sp", "nb")
    return f"""
    WITH regs AS (
      SELECT event_type, {_hll.hll_bucket_sql_duckdb(val)} AS bucket,
             max({_hll.hll_rank_sql(val)}) AS M
      FROM events GROUP BY 1, 2
    ),
    sstats AS (
      SELECT event_type, sum({_hll.hll_term_sql_duckdb("M")})::BIGINT AS sp,
             count(*) AS nb FROM regs GROUP BY 1
    ),
    sest AS (SELECT event_type, {est} AS approx FROM sstats),
    types AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    uregs AS (
      SELECT p.ta, p.tb, r.bucket, max(r.M) AS M
      FROM pairs p JOIN regs r
        ON r.event_type = p.ta OR r.event_type = p.tb
      GROUP BY 1, 2, 3
    ),
    ustats AS (
      SELECT ta, tb, sum({_hll.hll_term_sql_duckdb("M")})::BIGINT AS sp,
             count(*) AS nb FROM uregs GROUP BY 1, 2
    ),
    uest AS (SELECT ta, tb, {est} AS u FROM ustats),
    du AS (SELECT DISTINCT user_id, event_type FROM events),
    ov AS (
      SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS exact_overlap
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.ta, p.tb,
           ea.approx AS est_a, eb.approx AS est_b, uest.u AS est_union,
           ea.approx + eb.approx - uest.u AS est_overlap,
           (ea.approx + eb.approx - uest.u) / uest.u AS jaccard_est,
           CAST(coalesce(ov.exact_overlap, 0) AS BIGINT) AS exact_overlap
    FROM pairs p
    JOIN sest ea ON ea.event_type = p.ta
    JOIN sest eb ON eb.event_type = p.tb
    JOIN uest ON uest.ta = p.ta AND uest.tb = p.tb
    LEFT JOIN ov ON ov.ta = p.ta AND ov.tb = p.tb
    """


@query(
    "q_hll_overlap",
    oracle=_hll_overlap_oracle(),
    description="sketch-algebra audience overlap: |A∩B| and Jaccard "
    "estimated for every event-type pair by inclusion–exclusion over "
    "portable-HLL register states — |A|+|B|−|A∪B| with the union sketch "
    "a bucket-wise max-merge (never a rescan); exact overlap included "
    "for the error-vs-exact comparison at this SF. The one sketch "
    "operation exact distinct cannot decompose: at 100 TB the per-"
    "segment register tables are persisted once and ANY pair/rollup "
    "overlap is register algebra on 4096-row states",
)
def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion–exclusion is the canonical sketch-set-algebra workload
    (audience overlap, cross-source contamination, A/B exposure leaks).
    Registers are built ONCE (one corpus shuffle, ≤ types×4096 rows,
    reused by AQE): singles estimate, pair-union estimate, and the exact
    check all read the same state. The estimate arithmetic (a + b − u, /u) is
    two IEEE ops in one documented order on deterministic doubles, so
    the result hash-verifies; a negative estimate for truly disjoint
    sets is possible (sketch noise exceeding the tiny intersection) and
    deliberately reported raw — clamping is the consumer's policy call.
    Reference parity: extension (the reference's distinct counting is an
    exact reduce; see functions/hll.py)."""
    from go_web_mapreduce_spark.functions import hll as _hll

    events = load_table(spark, sf_dir, "events")
    regs = _hll.hll_registers(events, ["event_type"], F.col("user_id"))
    single = _hll.hll_estimate_from_registers(regs, ["event_type"])
    types = events.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .join(
            types.select(F.col("event_type").alias("tb")),
            F.col("ta") < F.col("tb"),
        )
    )
    pair_regs = regs.join(
        F.broadcast(pairs),
        (regs.event_type == pairs.ta) | (regs.event_type == pairs.tb),
    ).select("ta", "tb", "bucket", "M")
    uest = _hll.hll_estimate_from_registers(pair_regs, ["ta", "tb"]).select(
        "ta", "tb", F.col("approx").alias("u")
    )
    du = events.select("user_id", "event_type").distinct()
    a = du.select("user_id", F.col("event_type").alias("ta"))
    b = du.select("user_id", F.col("event_type").alias("tb"))
    ov = (
        a.join(b, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    ea = single.select(F.col("event_type").alias("ta"), F.col("approx").alias("est_a"))
    eb = single.select(F.col("event_type").alias("tb"), F.col("approx").alias("est_b"))
    out = (
        pairs.join(F.broadcast(ea), "ta")
        .join(F.broadcast(eb), "tb")
        .join(F.broadcast(uest), ["ta", "tb"])
        .join(F.broadcast(ov), ["ta", "tb"], "left")
    )
    inter = F.col("est_a") + F.col("est_b") - F.col("u")
    return out.select(
        "ta",
        "tb",
        "est_a",
        "est_b",
        F.col("u").alias("est_union"),
        inter.alias("est_overlap"),
        (inter / F.col("u")).alias("jaccard_est"),
        F.coalesce(F.col("exact_overlap"), F.lit(0)).cast("long").alias(
            "exact_overlap"
        ),
    )


# ---------------------------------------------------------------------------
# q_quantile_norm — per-source quantile normalization onto corpus quantiles
# ---------------------------------------------------------------------------


@query(
    "q_quantile_norm",
    oracle="""
    WITH corpus AS (
      SELECT n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) AS gr
      FROM documents
    ),
    per_src AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ns,
             (SELECT count(*) FROM documents) AS nn
      FROM documents
    ),
    keyed AS (
      SELECT source, n_chars AS orig,
             ((r - 1) * (nn - 1)) // (ns - 1) + 1 AS k
      FROM per_src WHERE ns > 1
    ),
    mapped AS (
      SELECT s.source, s.orig, c.n_chars AS norm
      FROM keyed s JOIN corpus c ON c.gr = s.k
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(orig) AS BIGINT) AS sum_orig,
           CAST(sum(norm) AS BIGINT) AS sum_norm,
           CAST(sum(abs(norm - orig)) AS BIGINT) AS total_shift,
           CAST(max(abs(norm - orig)) AS BIGINT) AS max_shift
    FROM mapped GROUP BY source
    """,
    description="quantile normalization (the microarray/batch-effect "
    "classic, Bolstad 2003): every source's n_chars distribution mapped "
    "onto the CORPUS distribution by rank — doc at in-source rank r of "
    "n_s takes the corpus value at global rank 1 + ⌊(r−1)(N−1)/(n_s−1)⌋, "
    "an all-integer index map with (value, doc_id) total orders so both "
    "engines rank identically; per-source census of the shift (sums, "
    "total and max absolute displacement — how far each source's length "
    "profile sits from the corpus profile). The cross-source score-"
    "calibration primitive for mixing heterogeneous corpora",
)
def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rank windows (one global, one per source) + ONE equi-join on
    the computed integer index — no percentile interpolation anywhere,
    so there is no float surface at all until the final census sums
    (also integers). The corpus rank is the range-partitioned
    range_prefix (graph.py) — range shuffle + local sort +
    partition-count prefix sum — NOT a single-partition row_number, so
    the global order scales to corpus-sized document counts; (n_chars,
    doc_id) is a unique total order so the positions are bit-identical
    to the oracle's row_number. The per-source rank window keeps its
    partition key. The census output is deliberately aggregate (not
    per-doc) so the operator composes as a mixing diagnostic, not a
    corpus rewrite."""
    from go_web_mapreduce_spark.operators.graph import range_prefix

    docs = load_table(spark, sf_dir, "documents")
    corpus = range_prefix(
        docs.select(F.col("n_chars").alias("cv"), "doc_id"), ["cv", "doc_id"]
    ).select("cv", (F.col("cum_less") + 1).alias("gr"))
    total = docs.agg(F.count(F.lit(1)).alias("nn"))
    # the index key is computed ENTIRELY on the per-source side (nn rides
    # a 1-row broadcast) so the rank lookup is a hash EQUI-join on gr — a
    # key expression mixing both sides degrades to a nested-loop theta
    # join (measured exp 1.52, 21 s at sf1; this form: 0.63 s, exp ~0).
    # The in-source rank is a keyed range-shuffled row index (r12: sibling
    # of the q_spearman rewrite) — the old Window.partitionBy(source)
    # row_number put corpus/|sources| rows on one task at 100 TB. Under
    # the unique (n_chars, doc_id) total order, cum_less + 1 IS
    # row_number() over (source ORDER BY n_chars, doc_id).
    ns_cen = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    per_src = (
        range_prefix(
            docs.select("source", F.col("n_chars").alias("orig"), "doc_id"),
            ["orig", "doc_id"],
            key="source",
        )
        .join(F.broadcast(ns_cen), "source")
        .where(F.col("ns") > 1)
        .join(F.broadcast(total))
        .select(
            "source",
            "orig",
            F.expr(
                "(cum_less * (nn - 1)) DIV (ns - 1) + 1"
            ).alias("k"),
        )
    )
    mapped = per_src.join(corpus, per_src.k == corpus.gr)
    diff = F.abs(F.col("cv") - F.col("orig"))
    return mapped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("orig").alias("sum_orig"),
        F.sum("cv").alias("sum_norm"),
        F.sum(diff).alias("total_shift"),
        F.max(diff).alias("max_shift"),
    )


# ---------------------------------------------------------------------------
# q_psi_drift — population stability index of value distributions over time
# ---------------------------------------------------------------------------

PSI_BINS = 10
PSI_SPLIT = "2024-01-16"  # reference = days before, current = days after
PSI_ALERT = "0.2"  # the industry convention: PSI > 0.2 = significant shift


def _psi_edge_sql(side: str) -> str:
    """Nine conditional-max decile edges from the reference ranks."""
    return ", ".join(
        f"max(CASE WHEN rnk = ({i} * n + 9) // 10 THEN value END) AS e{i}"
        if side == "duckdb"
        else f"max(CASE WHEN rnk = ({i} * n + 9) DIV 10 THEN value END) AS e{i}"
        for i in range(1, PSI_BINS)
    )


_PSI_BIN_EXPR = "1 + " + " + ".join(
    f"(CASE WHEN value > e{i} THEN 1 ELSE 0 END)" for i in range(1, PSI_BINS)
)

# fixed-order PSI sum over the 10 pivoted bins, Laplace-smoothed so an
# empty current-side bin stays finite; generated ONCE for both engines
_PSI_TERM = (
    "((CAST(r{b} + 1 AS DOUBLE) / CAST(nr + {m} AS DOUBLE))"
    " - (CAST(c{b} + 1 AS DOUBLE) / CAST(nc + {m} AS DOUBLE)))"
    " * ln((CAST(r{b} + 1 AS DOUBLE) / CAST(nr + {m} AS DOUBLE))"
    " / (CAST(c{b} + 1 AS DOUBLE) / CAST(nc + {m} AS DOUBLE)))"
)
_PSI_EXPR = " + ".join(
    _PSI_TERM.format(b=b, m=PSI_BINS) for b in range(1, PSI_BINS + 1)
)
_PSI_PIVOT = ", ".join(
    f"sum(CASE WHEN side = 'r' AND bin = {b} THEN 1 ELSE 0 END) AS r{b}, "
    f"sum(CASE WHEN side = 'c' AND bin = {b} THEN 1 ELSE 0 END) AS c{b}"
    for b in range(1, PSI_BINS + 1)
)


@query(
    "q_psi_drift",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 'r' ELSE 'c' END
               AS side,
             event_id
      FROM events
    ),
    ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rnk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM ev WHERE side = 'r'
    ),
    edges AS (
      SELECT event_type, {_psi_edge_sql("duckdb")}
      FROM ranked GROUP BY event_type
    ),
    binned AS (
      SELECT ev.event_type, ev.side, {_PSI_BIN_EXPR} AS bin
      FROM ev JOIN edges ON edges.event_type = ev.event_type
    ),
    pivoted AS (
      SELECT event_type, {_PSI_PIVOT},
             sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS nr,
             sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS nc
      FROM binned GROUP BY event_type
    )
    SELECT event_type,
           CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
           {_PSI_EXPR} AS psi,
           CAST(CASE WHEN {_PSI_EXPR} > {PSI_ALERT} THEN 1 ELSE 0 END AS INT)
             AS drift
    FROM pivoted
    """,
    description=f"population stability index per event type: the value "
    f"distribution of the first half of the window (reference, < "
    f"{PSI_SPLIT}) vs the rest (current), over {PSI_BINS} bins whose "
    "edges are DISCRETE rank-selected reference deciles (exact data "
    "values — no percentile interpolation), Laplace-smoothed so empty "
    "current bins stay finite; PSI > 0.2 flags the shift (the model-"
    "monitoring industry convention, the numeric complement of "
    "q_ks_drift's exact test and q_js_divergence's token version). Bin "
    "assignment and the 10-term PSI sum are generated expressions shared "
    "verbatim by both engines — integer counts, ln only on the reported "
    "value, hash-verified",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus pass tags side + joins the broadcast decile-edge table
    (types × 9 doubles) and pivots to fixed bin columns — the float PSI
    sum is ONE in-row expression over exact integers, never a float SUM
    across rows (the q_mutual_info discipline). The reference decile
    edges are rank-selected from the (type, value) census of range-
    shuffled row positions (range_prefix) — never a per-type row_number
    window, whose partitions are corpus/|types|-sized
    at 100 TB. PSI's role in the family: q_ks_drift detects ANY
    distributional difference (supremum test), PSI measures HOW MUCH
    mass moved in operating bins — the alerting metric teams page on."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.when(F.expr(f"ts < TIMESTAMP '{PSI_SPLIT}'"), "r")
        .otherwise("c")
        .alias("side"),
        "event_id",
    )
    ref = ev.where(F.col("side") == "r")
    # decile edges by rank selection, census-style (r12 sibling of the
    # q_spearman rewrite): the old per-type row_number window put corpus/
    # |types| rows on one task. The value at row position p of the
    # (value, event_id) order is the value v with rows(< v) < p ≤ rows(≤ v)
    # — the event_id tiebreak never changes WHICH VALUE holds a position —
    # so rank selection needs only the (type, value) census with each
    # value's rows(< v): tied rows are contiguous in the range-shuffled
    # value order, so that is min(cum_less) over the value's rows.
    from go_web_mapreduce_spark.operators.graph import range_prefix

    vpos = (
        range_prefix(ref, "value", key="event_type")
        .groupBy("event_type", "value")
        .agg(F.min("cum_less").alias("cum_less"), F.count(F.lit(1)).alias("c"))
    )
    ncen = ref.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    edges = (
        vpos.join(F.broadcast(ncen), "event_type")
        .groupBy("event_type")
        .agg(
            *[
                F.max(
                    F.when(
                        F.expr(
                            f"cum_less < ({i} * n + 9) DIV 10"
                            f" AND cum_less + c >= ({i} * n + 9) DIV 10"
                        ),
                        F.col("value"),
                    )
                ).alias(f"e{i}")
                for i in range(1, PSI_BINS)
            ]
        )
    )
    binned = ev.join(F.broadcast(edges), "event_type").select(
        "event_type", "side", F.expr(_PSI_BIN_EXPR).alias("bin")
    )
    pivoted = binned.groupBy("event_type").agg(
        *(
            [
                F.sum(
                    F.when((F.col("side") == "r") & (F.col("bin") == b), 1)
                    .otherwise(0)
                ).alias(f"r{b}")
                for b in range(1, PSI_BINS + 1)
            ]
            + [
                F.sum(
                    F.when((F.col("side") == "c") & (F.col("bin") == b), 1)
                    .otherwise(0)
                ).alias(f"c{b}")
                for b in range(1, PSI_BINS + 1)
            ]
            + [
                F.sum(F.when(F.col("side") == "r", 1).otherwise(0)).alias("nr"),
                F.sum(F.when(F.col("side") == "c", 1).otherwise(0)).alias("nc"),
            ]
        )
    )
    return pivoted.select(
        "event_type",
        F.col("nr").cast("long").alias("n_ref"),
        F.col("nc").cast("long").alias("n_cur"),
        F.expr(_PSI_EXPR).alias("psi"),
        F.expr(
            f"CAST(CASE WHEN {_PSI_EXPR} > {PSI_ALERT} THEN 1 ELSE 0 END AS INT)"
        ).alias("drift"),
    )


# ---------------------------------------------------------------------------
# q_key_skew — join-key skew diagnostics (the salting/AQE pre-flight)
# ---------------------------------------------------------------------------

SKEW_TOPK = 5  # report the 5 hottest keys per column


@query(
    "q_key_skew",
    oracle=f"""
    WITH stats AS (
      SELECT 'events.user_id' AS key_col, user_id AS k, count(*) AS c
      FROM events GROUP BY user_id
      UNION ALL
      SELECT 'lineitem.l_partkey', l_partkey, count(*)
      FROM lineitem GROUP BY l_partkey
      UNION ALL
      SELECT 'orders.o_custkey', o_custkey, count(*)
      FROM orders GROUP BY o_custkey
    ),
    agg AS (
      SELECT key_col,
             count(*) AS n_keys,
             sum(c) AS n_rows,
             max(c) AS max_rows
      FROM stats GROUP BY key_col
    ),
    hot AS (
      SELECT key_col, k, c,
             row_number() OVER (PARTITION BY key_col
                                ORDER BY c DESC, k) AS rnk
      FROM stats
    )
    SELECT h.key_col, CAST(h.rnk AS INT) AS rnk,
           CAST(h.k AS BIGINT) AS hot_key,
           CAST(h.c AS BIGINT) AS hot_rows,
           CAST(a.n_keys AS BIGINT) AS n_keys,
           CAST(a.n_rows AS BIGINT) AS n_rows,
           CAST(h.c * 1000000 // (a.n_rows // a.n_keys) AS BIGINT)
             AS skew_ratio_ppm
    FROM hot h JOIN agg a ON a.key_col = h.key_col
    WHERE h.rnk <= {SKEW_TOPK}
    """,
    description=f"join-key skew diagnostics: for each fact-side join key "
    "(events.user_id, lineitem.l_partkey, orders.o_custkey) the "
    f"{SKEW_TOPK} hottest keys with exact row counts, total key/row "
    "census, and the hot-key/mean-key ratio in ppm — the pre-flight "
    "that decides between the plain shuffle join, AQE's skew split, "
    "and q_salted_join's explicit 16-way salting (functions/skew.py). "
    "All integers; per-key top-k via rank window",
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One groupBy per key column (map-side partial counts — the shuffle
    carries one row per distinct key, never fact rows) + a 3-partition
    rank window whose rnk <= k filter runs as WindowGroupLimit, so no
    partition is fully sorted: per input split only the local top-5
    survive the exchange. This is the measurement a 100 TB join planner
    acts on — AQE's skew split sees per-PARTITION sizes at runtime, but
    per-KEY counts are what decide whether one key alone exceeds any
    partition budget (then only salting helps, q_salted_join). The
    integer skew_ratio_ppm against the MEAN key (total rows DIV total
    keys) is the number a planner compares to its partition budget when
    choosing functions/skew.py's 16-way salting."""
    parts = []
    for label, table, col in (
        ("events.user_id", "events", "user_id"),
        ("lineitem.l_partkey", "lineitem", "l_partkey"),
        ("orders.o_custkey", "orders", "o_custkey"),
    ):
        t = load_table(spark, sf_dir, table)
        parts.append(
            t.groupBy(F.col(col).alias("k")).agg(
                F.count(F.lit(1)).alias("c")
            ).select(F.lit(label).alias("key_col"), "k", "c")
        )
    stats = parts[0]
    for p in parts[1:]:
        stats = stats.unionByName(p)
    agg = stats.groupBy("key_col").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_rows"),
    )
    hot = (
        stats.select(
            "key_col",
            "k",
            "c",
            F.row_number()
            .over(
                Window.partitionBy("key_col").orderBy(F.col("c").desc(), "k")
            )
            .alias("rnk"),
        )
        .where(F.col("rnk") <= SKEW_TOPK)
    )
    return hot.join(F.broadcast(agg), "key_col").select(
        "key_col",
        F.col("rnk").cast("int").alias("rnk"),
        F.col("k").cast("long").alias("hot_key"),
        F.col("c").cast("long").alias("hot_rows"),
        "n_keys",
        "n_rows",
        F.expr("CAST(c * 1000000 DIV (n_rows DIV n_keys) AS BIGINT)").alias(
            "skew_ratio_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# q_itemsets3 — level-wise frequent 3-itemset mining (Apriori, Agrawal &
# Srikant 1994) over order baskets of part brands
# ---------------------------------------------------------------------------

ITEMSET_MINSUP_PPM = 1000  # minimum support as parts-per-million of baskets


@query(
    "q_itemsets3",
    oracle=f"""
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT count(DISTINCT o) AS n FROM items),
    tri AS (
      SELECT a.b AS brand_a, c.b AS brand_b, d.b AS brand_c,
             count(*) AS support
      FROM items a JOIN items c ON c.o = a.o AND c.b > a.b
                   JOIN items d ON d.o = a.o AND d.b > c.b
      GROUP BY 1, 2, 3
    )
    SELECT brand_a, brand_b, brand_c,
           CAST(support AS BIGINT) AS support,
           CAST(support * 1000000 // (SELECT n FROM nb) AS BIGINT)
             AS support_ppm
    FROM tri
    WHERE support * 1000000 >= (SELECT n FROM nb) * {ITEMSET_MINSUP_PPM}
    """,
    description="frequent 3-itemset mining (Apriori level-wise, Agrawal & "
    "Srikant 1994): orders are baskets, part brands are items; triples "
    f"kept at relative support ≥ {ITEMSET_MINSUP_PPM} ppm of baskets, "
    "reported with exact integer support and floor-divided ppm. The "
    "oracle states the naive within-basket triple count; the Spark plan "
    "is the level-wise algorithm — frequent pairs first (same minsup, so "
    "the Apriori downward-closure prune is lossless: a frequent triple's "
    "sub-pairs are at least as frequent), then candidate triples built "
    "only from baskets' pair hits that survived level 2",
)
def q_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: basket construction is one lineitem→part key join
    (dimension-side projected to (partkey, brand) before the join) and a
    DISTINCT bounded by baskets × |brands|. The within-basket pair join
    a⋈b executes ONCE: its Σ C(k,2) output rows (o, brand_a, brand_b)
    are pinned to scratch parquet, and BOTH level 2 (the frequent-pair
    count) and the level-3 candidate stream read that pin — the
    expensive basket-key shuffle is never recomputed (round-10 fix: the
    previous plan rebuilt a⋈b for the candidate leg, executing the
    level-2 join twice). Pair/triple volume is Σ C(k,2) / Σ C(k,3) over
    basket sizes k (bounded by order width, never corpus²). Level-2
    output is at most |brands|² rows, broadcast back as the Apriori
    prune: each triple leg semi-joins against the frequent-pair set
    before the level-3 count, so on skewed real corpora the candidate
    stream collapses to the support-bearing subspace (downward closure,
    lossless at equal minsup). Absolute thresholds are derived from one
    COUNT(DISTINCT basket) scalar — integer ppm comparisons, no float
    support."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # the basket item set is CORPUS-scaled and read four times (three join
    # legs + the basket count): pin it to scratch parquet rather than
    # localCheckpoint — block-manager caching of a corpus-sized table is
    # exactly what OOMs at scale (measured: the checkpointed variant died
    # at sf100/550M items on a 48g local heap; the parquet pin is
    # disk-backed and column-pruned). Same pattern as pipeline_ops'
    # pinned censuses.
    from go_web_mapreduce_spark.sources.sinks import scratch_dir

    items_path = scratch_dir("itemsets")
    basket_items = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    basket_items.write.mode("overwrite").parquet(items_path)
    items = spark.read.schema(basket_items.schema).parquet(items_path)
    n_baskets = items.select("o").distinct().count()
    # threshold computed in Python: lit(n_baskets) arrives as an int32
    # literal, and int32 * MINSUP_PPM overflowed in ANSI constant
    # folding at sf100 (147M baskets x 1000 > 2^31) — caught by the
    # third measured decade
    min_support_x1m = n_baskets * ITEMSET_MINSUP_PPM

    a = items.select("o", F.col("b").alias("brand_a"))
    b = items.select(F.col("o").alias("o2"), F.col("b").alias("brand_b"))
    c = items.select(F.col("o").alias("o3"), F.col("b").alias("brand_c"))
    # the Σ C(k,2) pair stream is read twice (level-2 count + level-3
    # candidates): execute the basket-key join ONCE and pin its output to
    # scratch parquet — disk-backed like the items pin, so nothing
    # corpus-sized sits in the block manager
    pair_path = scratch_dir("itemsets_pairs")
    pair_join = a.join(
        b, (a.o == b.o2) & (F.col("brand_a") < F.col("brand_b"))
    ).select("o", "brand_a", "brand_b")
    pair_join.write.mode("overwrite").parquet(pair_path)
    pair_rows = spark.read.schema(pair_join.schema).parquet(pair_path)
    pairs = pair_rows.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("sp")
    )
    freq2 = pairs.where(
        F.col("sp") * 1_000_000 >= F.lit(min_support_x1m)
    ).select("brand_a", "brand_b")

    cand = (
        pair_rows
        # Apriori prune level 2→3, leg (a,b): only frequent pairs extend
        .join(F.broadcast(freq2), ["brand_a", "brand_b"], "left_semi")
        .join(
            c,
            (pair_rows.o == F.col("o3"))
            & (F.col("brand_b") < F.col("brand_c")),
        )
        # prune legs (b,c) and (a,c) against the same frequent-pair set
        .join(
            F.broadcast(
                freq2.select(
                    F.col("brand_a").alias("brand_b"),
                    F.col("brand_b").alias("brand_c"),
                )
            ),
            ["brand_b", "brand_c"],
            "left_semi",
        )
        .join(
            F.broadcast(freq2.withColumnRenamed("brand_b", "brand_c")),
            ["brand_a", "brand_c"],
            "left_semi",
        )
    )
    tri = cand.groupBy("brand_a", "brand_b", "brand_c").agg(
        F.count(F.lit(1)).alias("support")
    )
    return tri.where(
        F.col("support") * 1_000_000 >= F.lit(min_support_x1m)
    ).select(
        "brand_a",
        "brand_b",
        "brand_c",
        F.col("support").cast("bigint").alias("support"),
        F.expr(f"CAST(support * 1000000 DIV {n_baskets} AS BIGINT)").alias(
            "support_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# q_weighted_median — exact quantity-weighted median price per brand via
# the value-census pattern (cumulative window over DISTINCT prices only)
# ---------------------------------------------------------------------------


@query(
    "q_weighted_median",
    oracle="""
    WITH census AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT brand, price_cents, w,
             sum(w) OVER (PARTITION BY brand ORDER BY price_cents) AS cw,
             sum(w) OVER (PARTITION BY brand) AS tw
      FROM census
    )
    SELECT brand,
           CAST(min(tw) AS BIGINT) AS total_weight,
           CAST(min(price_cents) AS BIGINT) AS wmedian_cents
    FROM cum WHERE 2 * cw >= tw
    GROUP BY brand
    """,
    description="exact weighted median (quantity-weighted median unit "
    "price per brand): the first distinct price whose cumulative weight "
    "reaches half the brand's total — the robust central-price statistic "
    "a plain median (each ROW once) misreports whenever quantity varies. "
    "Computed on the (brand, price) VALUE census, so the cumulative "
    "window runs over distinct prices per brand — bounded by the price "
    "value space, never corpus rows — the same census-not-rows move as "
    "q_auc_eval and q_decision_stump; all-integer comparisons "
    "(2·cum ≥ total), no interpolation ambiguity",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the naive weighted median sorts every row within
    its group (corpus/|brands|-sized window partitions — the known
    hazard). The census formulation collapses the corpus FIRST: one
    partial-aggregated groupBy to (brand, distinct price) rows, then the
    cumulative window touches only the census (distinct cent values per
    brand — value-space-bounded), and the winner row is an all-integer
    threshold filter + min. One fact join for the brand label (dimension
    side projected), one corpus aggregation, everything after is
    census-sized."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
        F.round("l_quantity").cast("bigint").alias("q"),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    census = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), "price_cents")
        .agg(F.sum("q").alias("w"))
    )
    wcum = Window.partitionBy("brand").orderBy("price_cents")
    wall = Window.partitionBy("brand")
    cum = census.select(
        "brand",
        "price_cents",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    return (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("brand")
        .agg(
            F.min("tw").alias("total_weight"),
            F.min("price_cents").alias("wmedian_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Round-10 statistics wave: KMV distinct sketch, market concentration,
# categorical association, rank-based k-sample test, diversity index
# ---------------------------------------------------------------------------

KMV_K = 64  # bottom-k sketch size
KMV_M_DOUBLE = float(1 << 60)  # hash space size (exactly representable)

_KMV_H_DUCK = (
    "('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT"
)
_KMV_H_SPARK = (
    "CAST(conv(substring(md5(concat('kmv:', CAST(user_id AS STRING))), "
    "1, 15), 16, 10) AS BIGINT)"
)


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {_KMV_H_DUCK} AS h FROM events
    ),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
      FROM h QUALIFY r <= {KMV_K}
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(h) AS BIGINT) AS kth_hash,
           CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
                ELSE CAST({KMV_K - 1} AS DOUBLE) * {KMV_M_DOUBLE!r}
                     / CAST(max(h) AS DOUBLE)
           END AS est_distinct
    FROM rk GROUP BY event_type
    """,
    description="KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002): "
    f"per event type, keep the {KMV_K} smallest distinct 60-bit md5 "
    "hashes of user_id and estimate distinct users as (k-1)·M/h_(k) — "
    "the order-statistics dual of HLL, mergeable by taking the union's "
    "bottom-k. Exact fallback when a group holds fewer than k distinct "
    "hashes. All integer until the single estimating division",
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: one map-side-partial DISTINCT on (type, h) — the
    only corpus-scaled shuffle, keyed identically to the downstream
    window — then a rank<=k filter that Spark executes as
    WindowGroupLimit (each map task forwards at most k rows per group,
    so the final per-group pass sees |types|·k rows, never the corpus).
    The estimate is the classic KMV order statistic: E[h_(k)] ≈ k·M/n,
    so n̂ = (k-1)·M/h_(k) (the -1 makes it unbiased). Unlike
    count_distinct, the sketch state is a fixed k·8 bytes per group and
    unions merge by re-taking the bottom-k — the property that lets a
    1000-executor cluster fold per-partition sketches without ever
    exchanging raw keys."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(_KMV_H_SPARK).alias("h")
    )
    hs = ev.distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kept = hs.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= KMV_K
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("kth_hash"),
        F.when(
            F.count(F.lit(1)) < KMV_K,
            F.count(F.lit(1)).cast("double"),
        )
        .otherwise(
            F.lit(float(KMV_K - 1))
            * F.lit(KMV_M_DOUBLE)
            / F.max("h").cast("double")
        )
        .alias("est_distinct"),
    )


@query(
    "q_hhi",
    oracle="""
    WITH srev AS (
      SELECT l.l_suppkey AS suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem l GROUP BY 1
    ),
    nat AS (
      SELECT n.n_name AS nation, srev.rev
      FROM srev
      JOIN supplier s ON s.s_suppkey = srev.suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(rev) AS BIGINT) AS total_rev_cents,
           CAST(CAST(sum(CAST(rev AS DECIMAL(38,0)) * rev) AS VARCHAR)
                AS DOUBLE)
             / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE))
             AS hhi,
           (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE))
             / CAST(CAST(sum(CAST(rev AS DECIMAL(38,0)) * rev) AS VARCHAR)
                    AS DOUBLE)
             AS eff_firms
    FROM nat GROUP BY nation
    """,
    description="Herfindahl–Hirschman market concentration per nation: "
    "each supplier's revenue share squared and summed — HHI = Σ(rev_i)²"
    "/(Σrev_i)², plus the equivalent-number-of-firms reciprocal 1/HHI — "
    "the antitrust/market-structure statistic, and in data-pipeline "
    "terms the skew census of a key's mass distribution. Sums of "
    "squared cents run in decimal(38,0) (cents² exceeds int64 at "
    "sf100); the two divisions are single IEEE expressions",
)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: lineitem folds to one revenue row per SUPPLIER
    first (map-side partial sum on the natural l_suppkey key), so the
    supplier/nation dimension joins move |suppliers| rows, not 600M
    lines; the nation rollup then aggregates |suppliers| rows into 25.
    The squared term accumulates as decimal(38,0) — exact and
    order-independent — and only the final share arithmetic is IEEE.
    HHI is also the engine's own diagnostic: it is exactly the
    normalized second moment of a join key's mass (q_key_skew's
    decision input) computed as a mergeable two-scalar state
    (Σw, Σw²)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    srev = li.groupBy("l_suppkey").agg(F.sum("cents").alias("rev"))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    joined = srev.join(
        F.broadcast(sup), srev.l_suppkey == sup.s_suppkey
    ).join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
    agg = joined.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev").alias("t"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev")).alias("sq"),
    )
    sq_d = F.col("sq").cast("string").cast("double")
    t2 = F.col("t").cast("double") * F.col("t").cast("double")
    return agg.select(
        "nation",
        "n_suppliers",
        F.col("t").alias("total_rev_cents"),
        (sq_d / t2).alias("hhi"),
        (t2 / sq_d).alias("eff_firms"),
    )


@query(
    "q_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, n.n_name AS nat,
             CAST(count(*) AS BIGINT) AS o
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    rt AS (SELECT seg, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY seg),
    ct AS (SELECT nat, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY nat),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT rt.seg, ct.nat, rt.rt, ct.ct, coalesce(cells.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN cells ON cells.seg = rt.seg AND cells.nat = ct.nat
    ),
    terms AS (
      SELECT (CAST(o AS DOUBLE)
              - CAST(rt * ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
             * (CAST(o AS DOUBLE)
                - CAST(rt * ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
             / (CAST(rt * ct AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS term
      FROM grid, tot
    ),
    s AS (
      SELECT CAST(CAST(sum(CAST(term AS DECIMAL(28,12))) AS VARCHAR)
                  AS DOUBLE) AS chi2
      FROM terms
    )
    SELECT tot.n AS n,
           (SELECT CAST(count(*) AS BIGINT) FROM rt) AS n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_cols,
           CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
           s.chi2 AS chi2,
           sqrt(s.chi2 / CAST(tot.n
                * least((SELECT count(*) FROM rt) - 1,
                        (SELECT count(*) FROM ct) - 1) AS DOUBLE))
             AS cramers_v
    FROM s, tot
    """,
    description="Cramér's V association between two categoricals (market "
    "segment × nation over customers): the full r×c contingency grid — "
    "zero cells included, they still contribute their expectation — "
    "χ² = Σ(o−e)²/e with e = row·col/n, V = √(χ²/(n·min(r−1,c−1))). "
    "Cell terms are IEEE expressions over exact integer margins, summed "
    "under the decimal(28,12) order-independence discipline; sqrt is "
    "correctly rounded per IEEE-754 so the statistic hash-verifies",
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: ONE corpus aggregation to the r×c census (125
    cells here — bounded by the category value space, never the corpus),
    then margins, the zero-completing grid cross join, and the χ² fold
    all run on dimension-sized data (the plan's only cartesian is the
    5×25 margin grid — the documented dimension-only exception). This
    is the standard drift/association primitive for categorical feature
    pairs: at any corpus size the post-census cost is |categories|²."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nat")
    )
    cells = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "nat")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # the 125-row census feeds three subtrees (row margins, column margins,
    # the grid join), which prune it differently, so AQE reuses only one
    # exchange: pinned, the corpus aggregation runs ONCE (gated in
    # tests/test_plans.py::test_cramers_v_census_only_cartesian)
    cells = pin(cells)
    rt = cells.groupBy("seg").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("nat").agg(F.sum("o").alias("ct"))
    grid = (
        rt.crossJoin(ct)
        .join(cells, ["seg", "nat"], "left")
        .select("seg", "nat", "rt", "ct", F.coalesce("o", F.lit(0)).alias("o"))
    )
    e = F.col("rt_ct").cast("double") / F.col("n").cast("double")
    term = (
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
    )
    stats = (
        grid.withColumn("rt_ct", F.col("rt") * F.col("ct"))
        .withColumn(
            "n",
            F.sum("o").over(Window.partitionBy()),  # 125-row grid total
        )
        .withColumn("term", term)
        .agg(
            F.min("n").alias("n"),
            F.count_distinct("seg").alias("n_rows"),
            F.count_distinct("nat").alias("n_cols"),
            F.sum(F.col("term").cast("decimal(28,12)"))
            .cast("string")
            .cast("double")
            .alias("chi2"),
        )
    )
    return stats.select(
        "n",
        "n_rows",
        "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
        "chi2",
        F.sqrt(
            F.col("chi2")
            / (
                F.col("n")
                * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
            ).cast("double")
        ).alias("cramers_v"),
    )


@query(
    "q_kruskal_wallis",
    oracle="""
    WITH obs AS (
      SELECT o.o_orderpriority AS grp,
             CAST(round(l.l_quantity) AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    gcen AS (
      SELECT grp, q, CAST(count(*) AS BIGINT) AS cg FROM obs GROUP BY 1, 2
    ),
    vcen AS (
      SELECT q, CAST(sum(cg) AS BIGINT) AS c FROM gcen GROUP BY q
    ),
    ranks AS (
      SELECT q, c,
             2 * coalesce(sum(c) OVER (ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS rank2
      FROM vcen
    ),
    gr AS (
      SELECT g.grp, CAST(sum(g.cg) AS BIGINT) AS nj,
             CAST(sum(g.cg * r.rank2) AS BIGINT) AS r2j
      FROM gcen g JOIN ranks r ON r.q = g.q
      GROUP BY g.grp
    ),
    nn AS (SELECT CAST(sum(nj) AS BIGINT) AS n FROM gr),
    s AS (
      SELECT CAST(CAST(sum(CAST(
               (CAST(r2j AS DOUBLE) / 2) * (CAST(r2j AS DOUBLE) / 2)
               / CAST(nj AS DOUBLE) AS DECIMAL(38,6))) AS VARCHAR)
             AS DOUBLE) AS srn,
             CAST(count(*) AS BIGINT) AS k
      FROM gr
    ),
    tie AS (
      SELECT CAST(CAST(sum(CAST(c AS DECIMAL(38,0)) * c * c - c)
                  AS VARCHAR) AS DOUBLE) AS t3
      FROM vcen
    )
    SELECT nn.n AS n_total, s.k AS n_groups,
           12 * s.srn / CAST(nn.n * (nn.n + 1) AS DOUBLE)
             - 3 * CAST(nn.n + 1 AS DOUBLE) AS h,
           1 - tie.t3
             / CAST(CAST(CAST(nn.n AS DECIMAL(38,0)) * nn.n * nn.n - nn.n
                    AS VARCHAR) AS DOUBLE) AS tie_c,
           (12 * s.srn / CAST(nn.n * (nn.n + 1) AS DOUBLE)
             - 3 * CAST(nn.n + 1 AS DOUBLE))
           / (1 - tie.t3
              / CAST(CAST(CAST(nn.n AS DECIMAL(38,0)) * nn.n * nn.n - nn.n
                     AS VARCHAR) AS DOUBLE)) AS h_adj
    FROM nn, s, tie
    """,
    description="Kruskal–Wallis H (rank-based k-sample test): does line "
    "quantity differ by order priority? Pooled mid-ranks come from the "
    "VALUE CENSUS (cumulative over the ≤50 distinct quantities, ×2 to "
    "stay integer), per-group rank sums from census×group counts, "
    "H = 12·Σ R_j²/n_j / (N(N+1)) − 3(N+1) with the t³−t tie "
    "correction in decimal(38,0) — exact integers until three final "
    "IEEE expressions",
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the corpus is touched by ONE aggregation to the
    (group × value) census — ≤ |groups|·|values| rows (5×50 here),
    partial map-side — and every rank is derived from the census: the
    cumulative runs over the ≤50-row value grid (the
    q_decision_stump/q_kaplan_meier value-grid cumulative — bounded by
    the value space, not the corpus, hence the deliberate partitionless
    window). No corpus-wide sort, no per-row rank assignment — the
    classic textbook formulation (rank every observation) is replaced
    by the tie-midrank algebra on counts, which is also what makes the
    result exact. Squared rank sums exceed float-53-bit exactness at
    sf100, so both engines evaluate the identical cast tree
    (bigint→double is correctly rounded — determinism, not exactness,
    is the contract); the 5-term Σ R²/n fold is decimal-cast for
    order independence."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.round("l_quantity").cast("bigint").alias("q")
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("grp")
    )
    # the <=|groups|x|values| census feeds the value census, the rank join
    # and the group rollup: pinned, measured paying (1.29x unpinned, sf0.1)
    gcen = pin(
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("grp", "q")
        .agg(F.count(F.lit(1)).alias("cg"))
    )
    vcen = gcen.groupBy("q").agg(F.sum("cg").alias("c"))
    wv = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    ranks = vcen.select(
        "q",
        "c",
        (2 * F.coalesce(F.sum("c").over(wv), F.lit(0)) + F.col("c") + 1)
        .alias("rank2"),
    )
    gr = (
        gcen.join(ranks, "q")
        .groupBy("grp")
        .agg(
            F.sum("cg").alias("nj"),
            F.sum(F.col("cg") * F.col("rank2")).alias("r2j"),
        )
    )
    rj = F.col("r2j").cast("double") / 2
    s = gr.agg(
        F.sum("nj").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum((rj * rj / F.col("nj").cast("double")).cast("decimal(38,6)"))
        .cast("string")
        .cast("double")
        .alias("srn"),
    )
    tie = vcen.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        )
        .cast("string")
        .cast("double")
        .alias("t3")
    )
    n = F.col("n")
    h = 12 * F.col("srn") / (n * (n + 1)).cast("double") - 3 * (
        n + 1
    ).cast("double")
    nd3 = (
        (n.cast("decimal(38,0)") * n * n - n).cast("string").cast("double")
    )
    tie_c = 1 - F.col("t3") / nd3
    return s.crossJoin(tie).select(
        n.alias("n_total"),
        F.col("k").alias("n_groups"),
        h.alias("h"),
        tie_c.alias("tie_c"),
        (h / tie_c).alias("h_adj"),
    )


@query(
    "q_simpson_diversity",
    oracle="""
    WITH cen AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           CASE WHEN sum(c) >= 2 THEN
             CAST(sum(c * (c - 1)) AS DOUBLE)
               / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) - 1 AS DOUBLE))
           END AS simpson,
           CASE WHEN sum(c) >= 2 THEN
             1 - CAST(sum(c * (c - 1)) AS DOUBLE)
               / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) - 1 AS DOUBLE))
           END AS gini_simpson,
           (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
             / CAST(sum(c * c) AS DOUBLE) AS eff_langs
    FROM cen GROUP BY source
    """,
    description="Simpson diversity of the language mix per source: "
    "λ = Σn_l(n_l−1)/(N(N−1)) (the probability two sampled docs share "
    "a language), Gini–Simpson 1−λ, and the effective number of "
    "languages N²/Σn² — the corpus-mixture diversity report a "
    "training-data pipeline publishes per source. Integer counts "
    "throughout; three single-expression divisions",
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: one map-side-partial aggregation to the
    (source × lang) census, then per-source index arithmetic on census
    rows — the post-census cost is |sources|·|langs| at any corpus
    size. n·n stays far inside int64 even at 5M docs/source (2.5e13)."""
    cen = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cen.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("pairs"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    nd = F.col("n").cast("double")
    lam = F.col("pairs").cast("double") / (nd * (F.col("n") - 1).cast("double"))
    # λ divides by N(N−1): a single-document source is an undefined
    # statistic (0/0), emitted as NULL in both engines rather than NaN
    # (round-10 ADVICE — NaN hash-compares unpredictably and violates
    # the 0≤λ≤1 invariant test)
    guarded = F.when(F.col("n") >= 2, lam)
    return agg.select(
        "source",
        F.col("n").alias("n_docs"),
        "n_langs",
        guarded.alias("simpson"),
        F.when(F.col("n") >= 2, 1 - lam).alias("gini_simpson"),
        ((nd * nd) / F.col("sq").cast("double")).alias("eff_langs"),
    )
