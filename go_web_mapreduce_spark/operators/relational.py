"""Core relational operators — the declared query inventory (SURVEY.md §2.3).

Each function is DataFrame-in/DataFrame-out, registered with its DuckDB
oracle. Everything here is a stock Catalyst plan: filters and projections
push into the parquet scan, aggregations get map-side partial aggregation,
joins pick broadcast/sort-merge under AQE. No Python runs per-row anywhere.

Reference anchors (what each query proves) are cited per function; the
reference implements map/shuffle/reduce only (reference:
server/static/js/main.js:7-30, algorithm/algorithm.go:170-192) — every query
below is a workload that model expresses, re-expressed natively.

Oracle discipline (FIXTURES.md §3): every aggregate aliased identically in
both engines; collect_list/set wrapped in sort + join-to-string; doubles
rounded in both engines; never depend on row order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions.numeric import davg, dsum
from go_web_mapreduce_spark.functions.text import token_count, tokens
from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin
from go_web_mapreduce_spark.sources.tables import fan_out, load_table, local_frame


# ---------------------------------------------------------------------------
# word count family — the reference's flagship example
# ---------------------------------------------------------------------------


def tokenized(docs: DataFrame, *keys: str) -> DataFrame:
    """``(keys…, word)``: one row per token of ``docs.text``. The map phase
    of the reference's word count (reference: server/views.go:53-55) as a
    projection; only the keys and ``text`` are read from the scan (column
    pruning)."""
    # split+lower+explode is map-side CPU over the scan: fan_out the pruned
    # projection so tokenization runs cluster-wide instead of on the single
    # effective task a one-row-group benchmark file yields (no-op at scale —
    # the scan is already thousands of splits there)
    return fan_out(docs.select(*keys, "text")).select(
        *keys, F.explode(tokens("text")).alias("word")
    )


def token_counts(docs: DataFrame, *keys: str) -> DataFrame:
    """``(keys…, word, n bigint)``: the word-count census of ``docs.text``
    per key (map-side combined: partial counts cross the shuffle)."""
    return (
        tokenized(docs, *keys)
        .groupBy(*keys, "word")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    description="flagship map→shuffle→reduce word count (reference: server/views.go:51-61)",
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs).withColumnRenamed("n", "cnt")


@query(
    "q_parity_partition",
    oracle="""
    SELECT length(word) % 2 AS pi, word, count(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY 1, 2
    """,
    description="user-defined partitioner len(word)%2 as a grouping column "
    "(reference: server/views.go:54, main.js:12-14)",
)
def q_parity_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference lets the map UDF choose the shuffle bucket. DataFrame
    semantics: the bucket is a computed grouping column; physical placement is
    Catalyst's job (hash partitioning on the group keys) — observationally
    equivalent under the order-insensitive oracle (SURVEY.md §4.3)."""
    words = tokenized(load_table(spark, sf_dir, "documents"))
    return (
        words.withColumn("pi", (F.length("word") % 2).cast("bigint"))
        .groupBy("pi", "word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "q_inverted_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
    ), d AS (
      SELECT DISTINCT doc_id, word FROM toks WHERE word <> ''
    )
    SELECT word, string_agg(doc_id::varchar, ',' ORDER BY doc_id) AS doc_ids,
           count(*) AS df
    FROM d GROUP BY word
    """,
    description="inverted index: word → sorted distinct doc ids "
    "(named workload, reference presentation 'Invert Index')",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tokenized(load_table(spark, sf_dir, "documents"), "doc_id")
        .distinct()
        .groupBy("word")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("doc_ids"),
            F.count("*").alias("df"),
        )
    )


# ---------------------------------------------------------------------------
# shuffle shape / grouping
# ---------------------------------------------------------------------------


@query(
    "q_shuffle_collect",
    oracle="""
    SELECT event_type,
           string_agg(event_id::varchar, ',' ORDER BY event_id::varchar) AS ids,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    description="the shuffle's {key: [values...]} output shape "
    "(reference: algorithm/algorithm.go:170-183)",
)
def q_shuffle_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.col("event_id").cast("string"))), ","
        ).alias("ids"),
        F.count("*").alias("n"),
    )


@query(
    "q_group_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
             AS sum_disc_price,
           CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
             AS sum_charge,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / count(l_quantity) AS avg_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / count(l_extendedprice)
             AS avg_price,
           CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / count(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H-Q1-style multi-aggregate (associative reduce UDFs, SURVEY §2.2)",
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), scale=6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    description="map-side filter + projection, pushed to the parquet scan "
    "(reference: server/views.go:53-55; SURVEY §2.2 filter)",
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 24)
    ).select(
        "l_orderkey",
        "l_linenumber",
        # raw IEEE product: identical bits in any engine, so no rounding —
        # round() itself is what disagrees across engines at .xx5 boundaries
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@query(
    "q_distinct",
    oracle="SELECT DISTINCT user_id FROM events",
    description="DISTINCT as dedup-by-key reduce (SURVEY §2.2)",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("user_id").distinct()


@query(
    "q_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    description="exact distinct-count aggregate per group",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


@query(
    "q_repartition_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders, CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    description="the MR repartition join (SURVEY §2.2 joins): equi-join then aggregate",
)
def q_repartition_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # Both sides shuffle on the key at scale (customer is not bounded);
    # AQE downgrades to broadcast automatically when a side is small.
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total"))
    )


@query(
    "q_multi_join",
    oracle="""
    SELECT r_name, count(*) AS n_orders, CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    GROUP BY r_name
    """,
    description="star-schema join chain region⋈nation⋈customer⋈orders",
)
def q_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # region/nation are bounded dims (5/25 rows at any SF) — broadcast them
    # explicitly so the big fact sides never shuffle for these joins.
    dim = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey, "inner")
    )
    return (
        customer.join(dim, customer.c_nationkey == dim.n_nationkey, "inner")
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "inner")
        .groupBy("r_name")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


@query(
    "q_semi_anti",
    oracle="""
    SELECT n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
    GROUP BY n_name
    """,
    description="anti join (customers with no tracked events) per nation (SURVEY §2.2 joins)",
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation")
    no_orders = customer.join(
        events, customer.c_custkey == events.user_id, "left_anti"
    )
    return (
        no_orders.join(
            F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey, "inner"
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "q_semi_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    description="semi join (customers having orders) per market segment",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# sort / top-k / windows
# ---------------------------------------------------------------------------


@query(
    "q_topk",
    oracle="""
    SELECT user_id, CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
    FROM events GROUP BY user_id
    ORDER BY sum(CAST(value AS DECIMAL(18,4))) DESC, user_id LIMIT 10
    """,
    description="MR 'Sort' workload as global top-k (reference presentation 'Sort')",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition top-k
    # then a k-row merge on the driver — no global sort at any scale.
    return (
        events.groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("_total"))
        .orderBy(F.col("_total").desc(), F.col("user_id"))
        .limit(10)
        .select("user_id", F.col("_total").cast("double").alias("total"))
    )


@query(
    "q_window_rank",
    oracle="""
    SELECT event_type, event_id, value, rn
    FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
    description="ranking window: top-3 events by value per type (SURVEY §2.2 windows)",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "value", "rn")
    )


@query(
    "q_window_running",
    oracle="""
    SELECT user_id, event_id,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
             AS running_total,
           count(*) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS running_n
    FROM events
    """,
    description="analytic window with an explicit rows frame (running per-user totals)",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("running_total"),
        F.count("*").over(w).alias("running_n"),
    )


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------


@query(
    "q_union",
    oracle="""
    SELECT id, count(*) AS n FROM (
      SELECT o_custkey AS id FROM orders
      UNION ALL
      SELECT user_id AS id FROM events
    ) GROUP BY id
    """,
    description="union-all result concat (reference: algorithm/algorithm.go:337-343)",
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    events = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    return orders.unionAll(events).groupBy("id").agg(F.count("*").alias("n"))


@query(
    "q_intersect",
    oracle="""
    SELECT user_id AS id FROM events
    INTERSECT
    SELECT o_custkey AS id FROM orders
    """,
    description="set intersection (SURVEY §2.2 set ops)",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    return events.intersect(orders)


@query(
    "q_except",
    oracle="""
    SELECT o_custkey AS id FROM orders
    EXCEPT
    SELECT user_id AS id FROM events
    """,
    description="set difference (SURVEY §2.2 set ops)",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    events = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    # subtract == EXCEPT DISTINCT: any id present in events is removed, matching
    # the oracle; exceptAll().distinct() is multiset subtraction and would keep
    # ids whose order-count exceeds event-count (ADVICE r01)
    return orders.subtract(events)


@query(
    "q_set_ops_all",
    oracle="""
    SELECT 'intersect_all' AS op, l_partkey FROM (
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        INTERSECT ALL
        SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'
    )
    UNION ALL
    SELECT 'except_all' AS op, l_partkey FROM (
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        EXCEPT ALL
        SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'
    )
    """,
    description="multiset (bag) set ops — INTERSECT ALL and EXCEPT ALL "
    "preserve duplicate multiplicities (min / saturating difference of "
    "per-value counts), unlike the DISTINCT forms in q_intersect/q_except; "
    "the order-insensitive multiset hash makes duplicate counts part of "
    "what the oracle verifies",
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_partkey")
    return a.intersectAll(b).select(
        F.lit("intersect_all").alias("op"), "l_partkey"
    ).unionAll(
        a.exceptAll(b).select(F.lit("except_all").alias("op"), "l_partkey")
    )


# ---------------------------------------------------------------------------
# grouping sets / rollup / pivot
# ---------------------------------------------------------------------------


@query(
    "q_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n, CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="hierarchical subtotals via ROLLUP (SURVEY §2.2 grouping sets)",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@query(
    "q_cube",
    oracle="""
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CAST(user_id AS varchar), 'ALL') AS user_id,
           count(*) AS n, CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
    FROM events
    GROUP BY CUBE (event_type, user_id)
    """,
    description="full cross-dimensional subtotals via CUBE",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.cube("event_type", "user_id")
        .agg(F.count("*").alias("n"), dsum("value").alias("total"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("user_id").cast("string"), F.lit("ALL")).alias("user_id"),
            "n",
            "total",
        )
    )


@query(
    "q_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id
    """,
    description="pivot event counts to one column per event type",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    # explicit value list → single-pass pivot, no extra distinct-values job
    out = events.groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1)))
    # pivot leaves null where a (user, type) pair never occurred; the FILTER
    # oracle yields 0 — normalize to 0 here.
    return out.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
    )


# ---------------------------------------------------------------------------
# scalar function surface (string / date / math / json)
# ---------------------------------------------------------------------------


@query(
    "q_scalar_fns",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           upper(o_orderpriority) AS priority,
           count(*) AS n,
           CAST(CAST(sum(CAST(sqrt(abs(o_totalprice)) AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS sum_sqrt_price,
           max(o_totalprice % 1000) AS max_mod,
           min(length(o_orderstatus)) AS min_status_len
    FROM orders
    GROUP BY 1, 2, 3
    """,
    description="string/date/math scalar functions (SURVEY §2.2 scalar fns)",
)
def q_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.upper("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count("*").alias("n"),
            dsum(F.sqrt(F.abs(F.col("o_totalprice"))), scale=6).alias("sum_sqrt_price"),
            F.max(F.col("o_totalprice") % 1000).alias("max_mod"),
            F.min(F.length("o_orderstatus")).alias("min_status_len"),
        )
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS bigint)) AS BIGINT) AS sum_k,
           count(DISTINCT CAST(json_extract_string(props, '$.k') AS bigint)) AS n_k
    FROM events GROUP BY event_type
    """,
    description="JSON field extraction from the events.props payload (SURVEY §2.2 json fns)",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # parse the JSON once per row; two aggregate expressions over the
    # inline extraction would each run get_json_object
    parsed = events.select(
        "event_type", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.countDistinct("k").alias("n_k"),
    )


@query(
    "q_array_fns",
    oracle="""
    SELECT lang,
           CAST(sum(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))) AS DOUBLE) / count(*)
             AS avg_tokens,
           max(len(list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> ''))))
             AS max_distinct_tokens
    FROM documents GROUP BY lang
    """,
    description="array transform/filter/distinct functions over tokenized text",
)
def q_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE per row in its own projection; inlining tokens() into
    # both aggregate expressions re-runs the (interpreted-HOF) tokenizer.
    # fan_out first: the HOF tokenizer is map-side CPU and a one-row-group
    # benchmark scan is a single effective task (no-op at cluster scale)
    tk = fan_out(docs.select("lang", "text")).select(
        "lang", tokens("text").alias("tk")
    )
    return tk.groupBy("lang").agg(
        (F.sum(F.size("tk")).cast("double") / F.count("*")).alias("avg_tokens"),
        F.max(F.size(F.array_distinct("tk"))).alias("max_distinct_tokens"),
    )


# ---------------------------------------------------------------------------
# range / theta joins, grouping sets, approximate aggregates
# ---------------------------------------------------------------------------


PRICE_BANDS = [
    ("budget", 0.0, 1200.0),
    ("mid", 1200.0, 1600.0),
    ("premium", 1600.0, 2500.0),
]


@query(
    "q_range_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('budget', 0.0, 1200.0), ('mid', 1200.0, 1600.0),
             ('premium', 1600.0, 2500.0)
    )
    SELECT band, count(*) AS n_parts,
           CAST(CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_price
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    description="range (interval) join: facts against a banded dimension via "
    "a broadcast theta-join — the scalable shape for interval joins with a "
    "small interval side (SURVEY §2.2 joins)",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi joins can't hash-partition; the scalable plan broadcasts the
    (tiny) interval side so the fact scan streams through a
    BroadcastNestedLoopJoin with no shuffle of the big side."""
    part = load_table(spark, sf_dir, "part")
    bands = F.broadcast(
        local_frame(spark, PRICE_BANDS, "band string, lo double, hi double")
    )
    return (
        part.join(
            bands,
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_parts"), dsum("p_retailprice").alias("total_price"))
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    description="explicit GROUPING SETS (disjoint subtotal sets, not the "
    "rollup/cube lattice) — SURVEY §2.2 grouping sets",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS revenue
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        li=load_table(spark, sf_dir, "lineitem"),
    )


def _approx_distinct_oracle() -> str:
    from go_web_mapreduce_spark.functions import hll as _hll

    val = "CAST(l_orderkey AS VARCHAR)"
    return f"""
    WITH regs AS (
      SELECT l_returnflag, {_hll.hll_bucket_sql_duckdb(val)} AS bucket,
             max({_hll.hll_rank_sql(val)}) AS M
      FROM lineitem GROUP BY 1, 2
    ), stats AS (
      SELECT l_returnflag, sum({_hll.hll_term_sql_duckdb("M")})::BIGINT AS sp,
             count(*) AS nb
      FROM regs GROUP BY 1
    ), est AS (
      SELECT l_returnflag, {_hll.hll_estimate_sql_duckdb("sp", "nb")} AS approx_orders
      FROM stats
    ), keyed AS (
      SELECT l_returnflag, l_extendedprice,
             md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR) AS k
      FROM lineitem
    ), gates AS (
      -- (2^60 // n) * 16k, not (2^60 * 16k) // n: the latter overflows
      -- int64; the reordering is stated identically in both engines so
      -- the rounding difference is shared, not a divergence
      SELECT l_returnflag,
             CASE WHEN count(*) <= {16 * 1024} THEN {1 << 60}
                  ELSE ({1 << 60} // count(*)) * {16 * 1024} END AS gate
      FROM lineitem GROUP BY 1
    ), gated AS (
      SELECT keyed.* FROM keyed JOIN gates USING (l_returnflag)
      WHERE ('0x' || substr(k, 1, 15))::BIGINT < gate
    ), samp AS (
      SELECT * FROM (
        SELECT l_returnflag, l_extendedprice, k,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY k) AS rn
        FROM gated) WHERE rn <= 1024
    ), ranked AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice, k) AS sr,
             count(*) OVER (PARTITION BY l_returnflag) AS kk
      FROM samp
    ), pct AS (
      SELECT l_returnflag,
             max(CASE WHEN sr = (kk + 1) // 2 THEN l_extendedprice END) AS price_p50,
             max(CASE WHEN sr = (19 * kk + 19) // 20 THEN l_extendedprice END) AS price_p95
      FROM ranked GROUP BY 1
    ), nn AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1)
    SELECT l_returnflag, approx_orders, price_p50, price_p95, n
    FROM est JOIN pct USING (l_returnflag) JOIN nn USING (l_returnflag)
    """


@query(
    "q_approx_distinct",
    oracle=_approx_distinct_oracle(),
    description="approximate aggregates: engine-portable HyperLogLog "
    "count-distinct (4096 registers, md5 hash) and deterministic "
    "hash-sample percentiles — the sketches that replace exact "
    "count(DISTINCT)/percentile at 100 TB (SURVEY §2.2 approx aggregates); "
    "hash-verified because every step is integer-exact or a frozen literal "
    "(functions/hll.py)",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count(DISTINCT) shuffles every distinct value; an HLL register
    table partial-aggregates map-side and shuffles <= 4096 rows per group
    at any input size. This is the FROM-SCRATCH portable HLL
    (functions/hll.py — md5 bucket/rank, integer harmonic sum, literal
    linear-counting table), not ``approx_count_distinct``: same O()s, but
    every step is reproducible in ANSI SQL, so the estimate itself is
    hash-verified against DuckDB instead of rows-only. (Spark's native
    HLL++ is the zero-dependency production alternative — registered as
    the rows-only ``q_approx_distinct_native`` variant below; its accuracy
    vs this implementation is pinned in tests/test_analytics.py.)

    TWO corpus passes total (was four in rounds 2-7 — the 13.7 s bench
    hotspot): the register pass now also counts rows per (group, bucket)
    (``counts=True``), so per-group n — and from it the sample gate — fall
    out of the register table's 3-row rollup instead of two further
    count(*) scans; its three consumers (estimate, gate broadcast, final
    n column) share the rollup's exchange through AQE reuse. Values are bit-identical to the
    4-pass form: n, gate, registers are the same numbers wherever computed.

    Percentiles: a deterministic bottom-1024-by-md5 sample per group (a
    KMV-style uniform sample with no RNG state), then the nearest-rank
    element — sampling error ~1.5 percentile points at k=1024. The sample
    selection is GATED map-side (the q_reservoir_per_key RESERVOIR_GATE
    pattern, made count-adaptive): the per-group count sets a 60-bit
    hash threshold keeping ~16k expected survivors per group, so the
    per-group window sorts a bounded set at any corpus size instead of
    every row. The gate is integer arithmetic replicated verbatim in the
    oracle, so parity is exact; the gated bottom-1024 equals the ungated
    bottom-1024 unless fewer than 1024 of n rows hash under a 16·1024/n
    threshold — a ~40σ deviation of a binomial, i.e. never. Reference
    parity: distinct counting in the reference is an exact reduce
    (algorithm.go); the sketch forms are the documented scale extension."""
    from go_web_mapreduce_spark.functions import hll as _hll

    li = load_table(spark, sf_dir, "lineitem")
    # Both passes are md5-per-row CPU-bound on a byte-small scan: Spark
    # sizes scan splits by bytes, so sf0.1 lineitem arrives as 3
    # partitions and the hash kernels run 3-of-32 cores. fan_out widens
    # the projected narrow columns first (no-op at cluster scale where
    # the scan is already thousands of splits).
    # PASS 1 — registers + per-bucket row counts in one scan/shuffle
    regs = _hll.hll_registers(
        fan_out(li.select("l_returnflag", "l_orderkey")),
        ["l_returnflag"],
        F.col("l_orderkey"),
        counts=True,
    )
    stats = (
        regs.groupBy("l_returnflag")
        .agg(
            F.sum(F.expr(_hll.hll_term_sql_spark("M"))).alias("_s"),
            F.count(F.lit(1)).alias("_nb"),
            F.sum("cnt").alias("n"),
        )
    )
    est = stats.select(
        "l_returnflag",
        _hll.hll_estimate_col(F.col("_s"), F.col("_nb")).alias("approx_orders"),
        "n",
        F.expr(
            f"CASE WHEN n <= {16 * 1024} THEN CAST({1 << 60} AS BIGINT) "
            f"ELSE (CAST({1 << 60} AS BIGINT) div n) * {16 * 1024} END"
        ).alias("gate"),
    )
    # PASS 2 — gated percentile sample (gate rides the broadcast of est)
    keyed = fan_out(
        li.select(
            "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
        )
    ).select(
        "l_returnflag",
        "l_extendedprice",
        F.md5(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("k"),
    )
    gated = keyed.join(
        F.broadcast(est.select("l_returnflag", "gate")), "l_returnflag"
    ).filter(
        F.conv(F.substring("k", 1, 15), 16, 10).cast("long") < F.col("gate")
    )
    samp = (
        gated.withColumn(
            "rn", F.row_number().over(W.partitionBy("l_returnflag").orderBy("k"))
        )
        .filter(F.col("rn") <= 1024)
        .drop("rn", "gate")
    )
    ranked = samp.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number()
        .over(W.partitionBy("l_returnflag").orderBy("l_extendedprice", "k"))
        .alias("sr"),
        F.count("*").over(W.partitionBy("l_returnflag")).alias("kk"),
    )
    pct = ranked.groupBy("l_returnflag").agg(
        F.max(
            F.when(F.col("sr") == F.expr("(kk + 1) div 2"), F.col("l_extendedprice"))
        ).alias("price_p50"),
        F.max(
            F.when(
                F.col("sr") == F.expr("(19 * kk + 19) div 20"),
                F.col("l_extendedprice"),
            )
        ).alias("price_p95"),
    )
    return est.join(pct, "l_returnflag").select(
        "l_returnflag", "approx_orders", "price_p50", "price_p95", "n"
    )


@query(
    "q_approx_distinct_native",
    oracle=None,  # engine-internal sketches: rows-only by construction
    variant_of="q_approx_distinct",
    description="production alternate of q_approx_distinct: Spark-native "
    "HLL++ approx_count_distinct + approx_percentile + count in ONE "
    "whole-stage-codegen pass — the form a cluster deployment runs (no "
    "md5/hex string ops, binary sketch states merged map-side). Rows-only "
    "because DuckDB cannot reproduce engine-internal sketch estimates; "
    "the native estimator's accuracy is cross-pinned against exact "
    "distinct AND the hash-verified portable HLL in tests/test_approx.py "
    "at the base fixture (±8%) and at the sf1 corpus (±3% at ~375k "
    "distinct per group, past the linear-counting regime), plus the "
    "native-sketch band assertion in tests/test_analytics.py",
)
def q_approx_distinct_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer shape as q_approx_distinct, one corpus pass, all JVM
    built-ins: HLL++ (Heule 2013) for the distinct estimate, G-K quantile
    sketch (accuracy 10000) for the percentiles. This is the plan to run
    when the consumer doesn't need cross-engine bit-parity — both sketches
    are fixed-size algebraic states, so shuffle volume is O(groups)
    regardless of corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.016)
        .cast("double")
        .alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("price_p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("price_p95"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# subqueries — Catalyst decorrelation coverage
# ---------------------------------------------------------------------------


@query(
    "q_exists_subquery",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    GROUP BY c_mktsegment
    """,
    description="correlated EXISTS subquery (decorrelated by Catalyst to a "
    "semi join — no per-row subquery execution)",
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers
        FROM {customer} c
        WHERE EXISTS (
          SELECT 1 FROM {orders} o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
        )
        GROUP BY c_mktsegment
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_above_avg
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
    description="uncorrelated scalar subquery (planned as an independent "
    "subquery stage whose single value feeds the filter)",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_above_avg
        FROM {orders}
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM {orders})
        GROUP BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS median_price,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90_price,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    description="exact percentiles (median/p90) per group — the exact "
    "counterpart of q_approx_distinct's sketches",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("median_price"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90_price"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# window frames (sliding rows / time-range) and analytic functions
# ---------------------------------------------------------------------------

TRAILING_WINDOW_US = 30 * 60 * 1_000_000  # 30-minute trailing range frame


@query(
    "q_window_frames",
    oracle=f"""
    SELECT user_id, event_id,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
             / count(*) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN {TRAILING_WINDOW_US} PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
             AS trailing_30m
    FROM events
    """,
    description="bounded window frames: 3-row moving average + 30-minute "
    "trailing time-range sum per user (SURVEY §2.2 windows — frames). The "
    "range frame is the scalable trailing-aggregate shape: one shuffle on "
    "user_id, sort within partition, no self-join",
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving averages via decimal sums (exact, order-free) divided by the
    frame row count — bit-identical across engines, unlike a float avg()."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "_ts_us", F.expr("ts_ns div 1000")
    )
    rows_w = (
        W.partitionBy("user_id")
        .orderBy("_ts_us", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    range_w = (
        W.partitionBy("user_id")
        .orderBy("_ts_us")
        .rangeBetween(-TRAILING_WINDOW_US, W.currentRow)
    )
    dec = F.col("value").cast("decimal(18,4)")
    return events.select(
        "user_id",
        "event_id",
        (F.sum(dec).over(rows_w).cast("double") / F.count("*").over(rows_w)).alias(
            "ma3"
        ),
        F.sum(dec).over(range_w).cast("double").alias("trailing_30m"),
    )


@query(
    "q_lead_lag",
    oracle="""
    SELECT o_orderkey,
           date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS days_since_prev,
           date_diff('day', o_orderdate, lead(o_orderdate) OVER w) AS days_until_next,
           ntile(4) OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice, o_orderkey) AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    description="analytic lead/lag offsets (inter-order gap days) and ntile "
    "quartiles per customer (SURVEY §2.2 windows — analytic fns)",
)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
            "days_since_prev"
        ),
        F.datediff(F.lead("o_orderdate").over(w), "o_orderdate").alias(
            "days_until_next"
        ),
        F.ntile(4).over(wp).alias("price_quartile"),
    )


# ---------------------------------------------------------------------------
# skew-mitigated join (planned salting — the AQE-independent path)
# ---------------------------------------------------------------------------


@query(
    "q_salted_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    description="skew-mitigated equi-join: the big (events) side salted over "
    "16 sub-keys, the small (customer) side exploded to match — an algebraic "
    "rewrite with results identical to the plain join (oracle is the plain "
    "join). The planned alternative for heads too hot for AQE's skew split "
    "(functions/skew.py)",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.skew import salted_join

    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(events, customer, ["c_custkey"], num_salts=16)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), dsum("value").alias("total_value")
    )


# ---------------------------------------------------------------------------
# merge / upsert (latest-wins change application)
# ---------------------------------------------------------------------------


def apply_upserts(
    base: DataFrame, changes: DataFrame, key: str, version_col: str
) -> DataFrame:
    """MERGE with latest-wins semantics, engine-side: union the change set
    onto the base and keep the highest-version row per key. One shuffle on
    the key; no driver involvement. This is the lake-format-free upsert
    shape — with Delta/Iceberg the same logic runs as MERGE INTO, but the
    algebra (union + per-key rank) is what those formats execute underneath.
    """
    w = W.partitionBy(key).orderBy(F.col(version_col).desc())
    return (
        base.unionByName(changes)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "q_upsert",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice * 1.1 AS DECIMAL(18,4)) AS DOUBLE) AS o_totalprice,
             1 AS version
      FROM orders WHERE o_orderkey % 10 = 0
    ), unioned AS (
      SELECT o_orderkey, o_custkey, o_totalprice, 0 AS version FROM orders
      UNION ALL
      SELECT * FROM changes
    ), latest AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      FROM unioned
    )
    SELECT count(*) AS n_rows,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total,
           CAST(sum(CASE WHEN version = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
    FROM latest WHERE rn = 1
    """,
    description="merge/upsert: a change set (10% of orders repriced) applied "
    "latest-wins onto the base via union + per-key version rank — the "
    "algebra MERGE INTO executes in lake formats; row count must not grow "
    "and only changed rows carry the new version",
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = orders.withColumn("version", F.lit(0))
    changes = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice") * 1.1).cast("decimal(18,4)").cast("double"),
        )
        .withColumn("version", F.lit(1))
    )
    merged = apply_upserts(base, changes, key="o_orderkey", version_col="version")
    return merged.agg(
        F.count("*").alias("n_rows"),
        dsum("o_totalprice").alias("total"),
        F.sum(F.when(F.col("version") == 1, 1).otherwise(0)).alias("n_updated"),
    )


@query(
    "q_map_fns",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ), built AS (
      SELECT user_id,
             map_from_entries(list_sort(list({'k': event_type, 'v': n}))) AS m
      FROM per_type GROUP BY user_id
    )
    SELECT user_id,
           cardinality(m) AS n_types,
           coalesce(map_extract(m, 'click')[1], 0) AS n_click,
           array_to_string(map_keys(m), ',') AS types_csv
    FROM built
    """,
    description="map-type functions: per-user event-type histogram built as "
    "a MAP column (map_from_entries over sorted entries), then size / "
    "key-extract / keys — SURVEY §2.2 array/map/json fns, map member",
)
def q_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entries are sorted before map construction so map_keys order is
    deterministic in both engines (Spark preserves insertion order)."""
    events = load_table(spark, sf_dir, "events")
    per_type = events.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    built = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return built.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.coalesce(F.element_at("m", "click"), F.lit(0)).alias("n_click"),
        F.array_join(F.map_keys("m"), ",").alias("types_csv"),
    )


@query(
    "q_outer_join",
    oracle="""
    SELECT
      CASE WHEN c_custkey IS NULL THEN 'event_only'
           WHEN user_id  IS NULL THEN 'customer_only'
           ELSE 'both' END AS side,
      count(*) AS n,
      CAST(CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_value
    FROM (SELECT DISTINCT c_custkey FROM customer) c
    FULL OUTER JOIN events e ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
    description="full outer join with null-side classification (SURVEY §2.2 "
    "joins — completes the equi/semi/anti/range/as-of/salted set). Shuffles "
    "both sides on the key; nulls never match so no hot null-key partition",
)
def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = (
        load_table(spark, sf_dir, "customer").select("c_custkey").distinct()
    )
    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    joined = customer.join(events, customer["c_custkey"] == events["user_id"], "outer")
    side = (
        F.when(F.col("c_custkey").isNull(), F.lit("event_only"))
        .when(F.col("user_id").isNull(), F.lit("customer_only"))
        .otherwise(F.lit("both"))
    )
    return joined.groupBy(side.alias("side")).agg(
        F.count("*").alias("n"),
        dsum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
    )


@query(
    "q_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY 1, 2
    ), df AS (
      SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM tf) GROUP BY word
    ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, df.df,
             tf.tf * (n.n_docs::DOUBLE / df.df) AS score
      FROM tf JOIN df USING (word), n
    )
    SELECT doc_id, word, tf, df, score
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, word) AS rn
      FROM scored
    ) WHERE rn <= 3 AND doc_id < 50
    """,
    description="TF-IDF: term frequency x inverse document frequency, top-3 "
    "distinctive terms per doc — the classic IR workload the reference's "
    "inverted-index example builds toward. IDF uses the exact rational "
    "N/df (log-free: same ranking, no cross-libm transcendental drift); "
    "plan is two aggregations + one broadcast-able join on word",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = token_counts(docs, "doc_id").withColumnRenamed("n", "tf")
    df = tf.select("doc_id", "word").distinct().groupBy("word").agg(
        F.count("*").alias("df")
    )
    n_docs = docs.select("doc_id").distinct().count()
    score = F.col("tf") * (F.lit(float(n_docs)) / F.col("df"))
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (
        tf.join(df, "word")
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "word", "tf", "df", "score")
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 3

# DuckDB mirror of _bm25_scored: the corpus statistics CTE chain (tf, dl,
# df, stats) and the score expression over it, shared by the q_bm25 and
# q_rank_fusion oracles
BM25_STATS_SQL = """WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ), df AS (
      SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM tf) GROUP BY word
    ), stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
    )"""
BM25_SCORE_SQL = f"""((CAST(stats.n_docs - df.df AS DOUBLE) + 0.5)
              / (CAST(df.df AS DOUBLE) + 0.5))
             * (CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0}
                / (CAST(tf.tf AS DOUBLE)
                   + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B}
                      * (CAST(dl.dl AS DOUBLE)
                         / (CAST(stats.sum_dl AS DOUBLE)
                            / CAST(stats.n_docs AS DOUBLE))))))"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, word, tf, df, dl, score)``: every (document, term) pair of
    the corpus with its BM25 score. Two corpus aggregations (tf, and df
    counted over tf's rows, which are distinct (doc_id, word) pairs) and a
    per-doc length table; the corpus-level scalars (N, Σdl) collect as two
    integers, and avgdl is derived with the IDENTICAL operation order as
    the oracle so the doubles match bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    # feeds tf, dl (and its build-time scalars) and df: pinned, measured
    # paying (q_rank_fusion 1.33x unpinned, sf0.1)
    tf = pin(token_counts(docs, "doc_id").withColumnRenamed("n", "tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").cast("bigint").alias("sum_dl")
    ).first()
    n_docs, sum_dl = int(stats["n_docs"]), int(stats["sum_dl"])
    avgdl = float(sum_dl) / float(n_docs)

    tf_d = F.col("tf").cast("double")
    idf = (
        (F.col("df") * F.lit(-1) + F.lit(n_docs)).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    norm = (
        tf_d * F.lit(BM25_K1 + 1.0)
        / (
            tf_d
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * (F.col("dl").cast("double") / F.lit(avgdl))
            )
        )
    )
    return (
        tf.join(df, "word")
        .join(dl, "doc_id")
        .select("doc_id", "word", "tf", "df", "dl", (idf * norm).alias("score"))
    )


@query(
    "q_bm25",
    oracle=f"""
    {BM25_STATS_SQL}, scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, df.df, dl.dl,
             {BM25_SCORE_SQL} AS score
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id), stats
    )
    SELECT doc_id, word, tf, df, dl, score
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, word) AS rn
      FROM scored
    ) WHERE rn <= {BM25_TOP} AND doc_id < 50
    """,
    description=f"BM25 ranking (Robertson-Sparck Jones; k1={BM25_K1}, "
    f"b={BM25_B}): the production IR scorer built from the same tf/df/dl "
    "statistics as q_tfidf, with length normalization. Rational idf "
    "(N-df+0.5)/(df+0.5) keeps the whole score inside IEEE +-*/ — no "
    "transcendental libm calls — so floats hash-match cross-engine; "
    "top-3 terms per doc (SURVEY named workload: inverted index / IR)",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scale shape as TF-IDF: the corpus statistics of
    :func:`_bm25_scored`, one broadcast-able join on word, one window per
    doc."""
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (
        _bm25_scored(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= BM25_TOP) & (F.col("doc_id") < 50))
        .select("doc_id", "word", "tf", "df", "dl", "score")
    )


@query(
    "q_udaf_second_max",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice,
             dense_rank() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice DESC) AS dr
      FROM lineitem
    )
    SELECT l_returnflag,
           max(CASE WHEN dr = 2 THEN l_extendedprice END) AS second_max,
           count(DISTINCT l_extendedprice) AS n_distinct
    FROM ranked GROUP BY l_returnflag
    """,
    description="custom UDAF via grouped-agg pandas_udf: second-largest "
    "distinct value per group (an aggregate Spark lacks natively) — the "
    "engine's user-defined-aggregate slot, Arrow-batched per group "
    "(SURVEY §2.2 UDF/UDAF). Exact float equality semantics, no "
    "transcendental drift, so even the UDAF is hash-verified",
)
def q_udaf_second_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def second_max(v: pd.Series) -> float:
        u = v.drop_duplicates().nlargest(2)
        return float(u.iloc[1]) if len(u) > 1 else None

    # a grouped-agg pandas UDF cannot share an agg with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT), so the companion count is pandas too
    @F.pandas_udf("long")
    def n_distinct(v: pd.Series) -> int:
        return int(v.nunique())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        second_max("l_extendedprice").alias("second_max"),
        n_distinct("l_extendedprice").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# q_unpivot — wide→long reshaping (melt), the inverse of q_pivot
# ---------------------------------------------------------------------------


@query(
    "q_unpivot",
    oracle="""
    WITH long AS (
        SELECT l_returnflag, 'qty' AS metric,
               CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'price', CAST(l_extendedprice AS DOUBLE)
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'disc', CAST(l_discount AS DOUBLE) FROM lineitem
    )
    SELECT l_returnflag, metric,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(v AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
             AS total
    FROM long GROUP BY 1, 2
    """,
    description="unpivot/melt (the inverse of q_pivot): three measure "
    "columns reshaped to (metric, value) rows via the native unpivot "
    "operator, then aggregated per (flag, metric) with exact decimal "
    "sums — wide→long reshaping is the normalization step feeding "
    "metric-generic pipelines (SURVEY §2.2 relational surface)",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.unpivot`` is a zero-shuffle projection (each input row
    yields one row per measure in-place — an Expand node, like rollup);
    the only exchange is the final small-key aggregate. At 100 TB the
    reshape adds no data movement, just ×3 row volume into a partial
    agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("disc"),
    )
    long = li.unpivot(
        ["l_returnflag"], ["qty", "price", "disc"], "metric", "v"
    )
    return long.groupBy("l_returnflag", "metric").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("v").alias("total"),
    )


# ---------------------------------------------------------------------------
# q_window_distribution — distribution analytics: ntile / percent_rank /
# cume_dist
# ---------------------------------------------------------------------------


@query(
    "q_window_distribution",
    oracle="""
    WITH r AS (
        SELECT event_type, event_id, value,
               ntile(4) OVER w AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    )
    SELECT event_type, quartile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(pr AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
             AS sum_pr,
           CAST(CAST(sum(CAST(cd AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
             AS sum_cd
    FROM r GROUP BY 1, 2
    """,
    description="distribution window functions (ntile quartiles, "
    "percent_rank, cume_dist) per event type with a fully deterministic "
    "(value, id) tie order; per-quartile counts and exact decimal sums "
    "of the rank statistics hash-verify — the analytic-function surface "
    "beyond ranking (SURVEY §2.2 windows)",
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank = (rank−1)/(n−1) and cume_dist = rank_max/n are exact
    rationals of row positions, so under a total tie order both engines
    produce identical doubles; the decimal(18,12) cast before summing
    keeps the aggregate order-independent.

    r12 (the q_spearman-class rewrite): event_type is a 5-value key, so
    the old ``Window.partitionBy(event_type)`` put corpus/5 rows on one
    task at 100 TB. (value, event_id) is a unique total order within
    type, so the range-shuffled keyed prefix (graph.py::range_prefix)
    gives rn = cum_less + 1 = row_number exactly, and every distribution
    function is integer arithmetic over (rn, n): rank()==row_number under
    a tie-free order, hence pr = (rn−1)/(n−1) (0.0 when n==1 — Spark's
    guard), cd = rn/n — the same integer operands cast to double and one
    IEEE division, bit-identical to WindowExec's PercentRank/CumeDist.
    ntile(4) assigns the first n%4 buckets ceil(n/4) rows and the rest
    floor(n/4) (SQL standard, both engines) — reproduced in exact integer
    arithmetic below. n rides a 5-row broadcast census."""
    from go_web_mapreduce_spark.operators.graph import range_prefix

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").cast("double").alias("value")
    )
    ncen = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("nt"))
    rn = (F.col("cum_less") + 1).alias("rn")
    ranked = range_prefix(
        ev, ["value", "event_id"], key="event_type"
    ).join(F.broadcast(ncen), "event_type").select("event_type", rn, "nt")
    # ntile(4): q = nt div 4 rows per bucket, the first r = nt mod 4
    # buckets take one extra row; cut = r·(q+1) is the last row of the
    # wide buckets. q == 0 (nt < 4) degenerates to quartile = rn via the
    # first branch (cut = nt ≥ rn always).
    quartile = F.expr(
        "CASE WHEN rn <= (nt % 4) * (nt DIV 4 + 1) "
        "THEN (rn - 1) DIV (nt DIV 4 + 1) + 1 "
        "ELSE (nt % 4) + (rn - (nt % 4) * (nt DIV 4 + 1) - 1) DIV (nt DIV 4) + 1 "
        "END"
    ).cast("int")
    pr = F.when(
        F.col("nt") > 1,
        (F.col("rn") - 1).cast("double") / (F.col("nt") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    cd = F.col("rn").cast("double") / F.col("nt").cast("double")
    r = ranked.select(
        "event_type",
        quartile.alias("quartile"),
        pr.alias("pr"),
        cd.alias("cd"),
    )
    return r.groupBy("event_type", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("pr", 12).alias("sum_pr"),
        dsum("cd", 12).alias("sum_cd"),
    )


# ---------------------------------------------------------------------------
# q_dense_grid — explicit cross join: dense dimension grid, sparse facts
# ---------------------------------------------------------------------------


@query(
    "q_dense_grid",
    oracle="""
    WITH grid AS (
        SELECT r_name, seg
        FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg
                                FROM customer) s
    ),
    facts AS (
        SELECT r_name, c_mktsegment AS seg,
               count(*) AS n_cust,
               CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS STRING)
                    AS DOUBLE) AS total_bal
        FROM region
        JOIN nation ON r_regionkey = n_regionkey
        JOIN customer ON n_nationkey = c_nationkey
        GROUP BY 1, 2
    )
    SELECT g.r_name, g.seg,
           CAST(coalesce(f.n_cust, 0) AS BIGINT) AS n_cust,
           coalesce(f.total_bal, 0.0) AS total_bal
    FROM grid g LEFT JOIN facts f ON g.r_name = f.r_name AND g.seg = f.seg
    """,
    description="explicit CROSS JOIN: the dense region × market-segment "
    "grid left-joined onto sparse aggregated facts with zero-fill — the "
    "dense-report pattern (every cell present even when no fact row "
    "exists), cartesian only over two tiny dimensions (SURVEY §2.2 "
    "joins: the one join type with no equi-key)",
)
def q_dense_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cartesian product is deliberately dimension × dimension (5 × 5
    here; never a fact side — a fact cross join is a bug at any scale),
    planned as a BroadcastNestedLoopJoin with both inputs broadcast-
    small; the facts arrive pre-aggregated so the left join is
    grid-sized. This is the same spine-then-join shape as q_gap_fill,
    with the spine built by cross join instead of sequence()."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    grid = region.select("r_name").crossJoin(
        customer.select(F.col("c_mktsegment").alias("seg")).distinct()
    )
    facts = (
        region.join(nation, F.col("r_regionkey") == F.col("n_regionkey"))
        .join(customer, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("r_name", F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )
    return grid.join(facts, ["r_name", "seg"], "left").select(
        "r_name",
        "seg",
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("total_bal", F.lit(0.0)).alias("total_bal"),
    )
