"""The reference's named "sort" and "graph" workloads, Spark-first.

The reference authors list sort and graph processing among MapReduce's
intended workloads (reference: presentation.pptx, "What is MapReduce?"
slide), alongside SVD / inverted-index / ML which already have queries
(operators/similarity.py, relational.py, ml.py). This module supplies the
remaining two as first-class, oracle-verified queries:

- ``q_global_sort`` — distributed total-order sort with a materialized
  global position, the TeraSort shape: one range shuffle
  (``repartitionByRange`` samples split points), a per-partition sort, and
  a per-partition-count prefix sum (≤ n_partitions rows — KBs on the
  driver side of the plan, never the corpus) that turns local indices into
  global ones. ``range_prefix`` builds it; keyed by a column it is also the
  per-key row index behind every other range-shuffled rank in the engine
  (q_ndcg, q_rfm_segments, q_quantile_norm, q_gini, q_window_distribution,
  q_spearman, q_psi_drift). No single-partition window anywhere: a naive
  ``row_number() OVER (ORDER BY ...)`` collapses the whole corpus onto one
  task, which is exactly the plan this module exists to avoid.

- The graph family — ``q_pagerank``, ``q_triangle_count``,
  ``q_lpa_communities``, ``q_hits``, ``q_adamic_adar``, ``q_item_cf``,
  ``q_graph_bfs``, ``q_graph_sssp``, ``q_kcore``, ``q_graph_modularity`` and
  ``q_graph_assortativity`` — runs over ONE graph: parts linked when they
  share an order shipped in ``PR_YEAR``. ``_year_lines`` is the year
  window and ``copurchase_edges`` the edge derivation (the ``l_orderkey``
  self-join); each query takes its flavour as a projection, filter or
  cast of that edge list (directed pairs, undirected ``src < dst`` pairs,
  bigint co-purchase counts), and ``_nodes`` is the distinct-part vertex
  set. Only ``q_item_cf`` joins its own distinct baskets, which its
  degree table needs anyway. Iterative queries run a fixed number of
  rounds so their DuckDB oracles unroll them as chained CTEs (or bound a
  recursive one) and hash-verify every value; per-round state is
  O(|nodes|) and never touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin
from go_web_mapreduce_spark.sources.tables import load_table, local_frame

SORT_PARTITIONS = 32  # range-shuffle width; at 100 TB size so each ≲ executor memory
PR_DAMPING = 0.85
# NOT computed as 1-PR_DAMPING: float(1-0.85) = 0.15000000000000002, a
# different double than the SQL literal 0.15 — both sides must state 0.15
PR_TELEPORT = 0.15
PR_ITERS = 3  # fixed — keeps the SQL oracle an exact unrolled twin
# the co-purchase graph over ALL of lineitem is ~2.4M near-unit-weight
# edges at sf0.1 (every pair of lines in every order) — PageRank machinery
# cost gets buried under raw pair-stream volume. One ship-year keeps the
# same node count (~20k parts at sf0.1) at ~1/7 the edge volume; the
# restriction is stated identically in both engines.
PR_YEAR = 1995


# ---------------------------------------------------------------------------
# distributed total-order sort (TeraSort shape)
# ---------------------------------------------------------------------------

# monotonically_increasing_id() = (partition index << 33) + row index, so
# a range partition must hold fewer than 2^33 rows
_POS_BITS = 33


def range_prefix(df: DataFrame, order: str | list[str], key: str | None = None,
                 num_partitions: int = SORT_PARTITIONS) -> DataFrame:
    """``(key?, *order, cum_less)``: each row's 0-based position in the
    ``order`` sort of its ``key`` group, i.e. the number of same-key rows
    strictly before it. Under a unique order ``cum_less + 1`` is
    ``row_number() OVER (PARTITION BY key ORDER BY order)``; under ties
    the rows of one tie group are contiguous, so their ``min(cum_less)``
    counts the strictly smaller rows (``rank() - 1``).

    Plan: one range shuffle on ``(key, *order)`` (split points from
    Spark's sample), a per-partition sort, and ``monotonically_increasing_id``
    as the row's position inside its range partition. Each ``(pid, key)``
    run's start offset comes from the ≤ ``num_partitions × |keys|``-row
    table of run starts and lengths, prefix-summed per key in one array
    ``aggregate`` and broadcast back. No Python node, no window, and no
    shuffle of the rows beyond the range shuffle.

    Invariant: only the sort columns cross the range exchange. The
    exchange partitions on all of them, so column pruning cannot narrow
    either consumer (rows or run table) below it; both subplans stay
    identical and read ONE sampled exchange (the second as
    ``ReusedExchange``). Two separately sampled exchanges would describe
    different partitionings in the reservoir-sampling regime and give
    duplicate positions. A caller that needs a payload column appends it
    to the order or joins it back.
    """
    order = [order] if isinstance(order, str) else list(order)
    kcols = [] if key is None else [key]
    ranged = (
        df.select(*kcols, *order)
        .repartitionByRange(num_partitions, *kcols, *order)
        .sortWithinPartitions(*kcols, *order)
        .withColumn("_pos", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_pos", _POS_BITS))
    )
    runs = ranged.groupBy("_pid", *kcols).agg(
        F.min("_pos").alias("_m0"), F.count(F.lit(1)).alias("_n")
    )

    def run_base(x, i):
        # rows of this key in earlier partitions, minus the run's own
        # start, so that cum_less = _pos + _base
        before = F.aggregate(
            F.slice("_runs", 1, i), F.lit(0).cast("long"),
            lambda acc, y: acc + y["_n"],
        )
        return F.struct(x["_pid"].alias("_opid"), (before - x["_m0"]).alias("_base"))

    on = F.col("_pid") == F.col("_opid")
    okey = []
    if key is not None:
        on = on & F.col(key).eqNullSafe(F.col("_okey"))
        okey = [F.col(key).alias("_okey")]
    bases = runs.groupBy(*kcols).agg(
        F.array_sort(F.collect_list(F.struct("_pid", "_m0", "_n"))).alias("_runs")
    ).select(*okey, F.inline(F.transform("_runs", run_base)))
    return ranged.join(F.broadcast(bases), on).select(
        *kcols, *order, (F.col("_pos") + F.col("_base")).alias("cum_less")
    )


@query(
    "q_global_sort",
    oracle="""
    SELECT row_number() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber)
             AS global_pos,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
           l_orderkey, l_linenumber
    FROM lineitem
    """,
    description="named 'sort' workload (reference presentation.pptx): "
    "TeraSort-shape distributed total order with verified global positions "
    "— range shuffle + local sort + count prefix sum, no global window",
)
def q_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        "l_orderkey",
        "l_linenumber",
    )
    order = ["ship_date", "l_orderkey", "l_linenumber"]
    return range_prefix(li, order).select(
        *order, (F.col("cum_less") + 1).alias("global_pos")
    )


# ---------------------------------------------------------------------------
# the part co-purchase graph — the one graph every query below reads
# ---------------------------------------------------------------------------

def _year_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(l_orderkey, l_partkey)`` of the lines shipped in ``PR_YEAR``: the
    graph's source rows, the same window as every oracle's ``li`` CTE."""
    shipdate = F.col("l_shipdate")
    return (
        load_table(spark, sf_dir, "lineitem")
        .where((shipdate >= f"{PR_YEAR}-01-01") & (shipdate < f"{PR_YEAR + 1}-01-01"))
        .select("l_orderkey", "l_partkey")
    )


def _nodes(lineitem: DataFrame) -> DataFrame:
    """The vertex set ``node``: every part in the window, with or without
    an edge."""
    return lineitem.select(F.col("l_partkey").alias("node")).distinct()


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Directed weighted edges between parts that share an order: weight =
    number of distinct orders the pair co-occurs in. Self-join on
    l_orderkey — bounded fan-out (TPC-H orders hold ≤ 7 lines), so the
    pair blow-up is a small constant factor, never corpus². The baskets
    ``(l_orderkey, l_partkey)`` are deduplicated once before the join (a
    part repeated within one order still contributes that order once), so
    the weight is a plain count.

    The graph queries' edge derivation; each reads it through one view:
    ``select("src", "dst")`` for the directed pairs, ``where(src < dst)``
    for the undirected pairs (the edge list is symmetric), and ``w`` cast
    to bigint for the exact co-purchase counts."""
    baskets = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("dst"))
    pairs = a.join(b, "l_orderkey").where(F.col("src") != F.col("dst"))
    return pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("double").alias("w"))


def _counted_edges(lineitem: DataFrame) -> DataFrame:
    """``copurchase_edges`` with ``w`` as the bigint order count (exact:
    the double holds a count)."""
    return copurchase_edges(lineitem).withColumn("w", F.col("w").cast("bigint"))


# ---------------------------------------------------------------------------
# PageRank over the part co-purchase graph
# ---------------------------------------------------------------------------

def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = PR_ITERS,
             damping: float = PR_DAMPING) -> DataFrame:
    """Fixed-iteration weighted PageRank (no dangling-mass redistribution:
    rank = (1-d) + d * Σ_in r(src)·w/wout(src), the variant both the Spark
    plan and the unrolled SQL oracle state identically).

    Each iteration: join ranks to out-normalized edges (shuffle on src),
    then groupBy(dst) (shuffle on dst) — rank state stays distributed,
    O(|nodes|). ``frac`` is static across iterations, so it is pinned
    (``sources.sinks.pin``): without it every iteration re-evaluates the
    whole edge-derivation subtree (the co-purchase self-join + two
    shuffles), tripling the plan — measured 14.6 s → ~5 s at sf0.1. At
    durable-cluster scale checkpoint to parquet instead (executor-local
    blocks don't survive loss) and checkpoint ranks every few rounds to
    truncate lineage.

    Cross-engine determinism (functions/numeric.py discipline): the
    per-node contribution sum runs over ``decimal(28,12)``-cast terms, so
    it is exact and partial-aggregation-order-independent; every other step
    (w/wout, r·frac, teleport+damping) is an identical IEEE expression on
    identical doubles in Spark and the unrolled DuckDB oracle, so the final
    ranks are bit-identical — no output rounding anywhere.
    """
    wout = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    frac = pin(
        edges.join(wout, "src")
        .select("src", "dst", (F.col("w") / F.col("wout")).alias("frac"))
    )
    # nodes joins into every round too — pin it once for the same reason
    nodes = pin(nodes)
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    for _ in range(iters):
        contrib = (
            frac.join(ranks, frac.src == ranks.node)
            .groupBy("dst")
            .agg(
                F.sum((F.col("r") * F.col("frac")).cast("decimal(28,12)"))
                .cast("double")
                .alias("c")
            )
        )
        ranks = nodes.join(
            contrib, nodes.node == contrib.dst, "left"
        ).select(
            "node",
            (F.lit(PR_TELEPORT)
             + F.lit(damping) * F.coalesce("c", F.lit(0.0))).alias("r"),
        )
    return ranks


_PR_ITER_SQL = """
    r{next} AS (
        SELECT n.node,
               0.15 + 0.85 * coalesce(
                   CAST(CAST(sum(CAST(p.r * f.frac AS DECIMAL(28,12))) AS STRING) AS DOUBLE),
                   0.0) AS r
        FROM nodes n
        LEFT JOIN frac f ON f.dst = n.node
        LEFT JOIN r{cur} p ON p.node = f.src
        GROUP BY n.node
    )"""


def _pagerank_oracle() -> str:
    iter_ctes = ",".join(
        _PR_ITER_SQL.format(cur=i, next=i + 1) for i in range(PR_ITERS)
    )
    return f"""
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PR_YEAR}-01-01'
          AND l_shipdate <  TIMESTAMP '{PR_YEAR + 1}-01-01'
    ),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(DISTINCT a.l_orderkey) AS DOUBLE) AS w
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY src, dst
    ),
    wout AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
    frac AS (
        SELECT e.src, e.dst, e.w / o.wout AS frac
        FROM edges e JOIN wout o ON o.src = e.src
    ),
    nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
    r0 AS (SELECT node, 1.0 AS r FROM nodes),{iter_ctes}
    SELECT node AS part_id, r AS pr FROM r{PR_ITERS}
    """


@query(
    "q_pagerank",
    oracle=_pagerank_oracle(),
    description="named 'graph' workload (reference presentation.pptx): "
    f"weighted PageRank over the part co-purchase graph, fixed {PR_ITERS} "
    "iterations unrolled as chained CTEs in the oracle — every rank "
    "hash-verified bit-for-bit (decimal-cast contribution sums)",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _year_lines(spark, sf_dir)
    ranks = pagerank(_nodes(li), copurchase_edges(li))
    return ranks.select(F.col("node").alias("part_id"), F.col("r").alias("pr"))


# ---------------------------------------------------------------------------
# triangle counting — degree-ordered wedge join (the O(m^1.5) plan)
# ---------------------------------------------------------------------------

# okey packs (degree, node id) into one bigint so "orient toward the
# higher-degree endpoint" is a single integer comparison in both engines.
# 35 id bits cover partkey up to 3.4e10 (TPC-H SF ~170k, i.e. >100 TB)
# and leave 28 degree bits (a part co-occurring with 268M others) — both
# beyond any real corpus, so the pack is collision-free and exact
_TRI_OKEY_SHIFT = 35


@query(
    "q_triangle_count",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= '{PR_YEAR}-01-01' AND l_shipdate < '{PR_YEAR + 1}-01-01'
    ),
    und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY node
    ),
    keyed AS (
      SELECT und.u, und.v,
             du.d * {1 << _TRI_OKEY_SHIFT}::BIGINT + und.u AS ku,
             dv.d * {1 << _TRI_OKEY_SHIFT}::BIGINT + und.v AS kv
      FROM und JOIN deg du ON du.node = und.u JOIN deg dv ON dv.node = und.v
    ),
    oriented AS (
      SELECT CASE WHEN ku < kv THEN ku ELSE kv END AS src,
             CASE WHEN ku < kv THEN kv ELSE ku END AS dst
      FROM keyed
    ),
    wedges AS (
      SELECT e1.dst AS a, e2.dst AS b
      FROM oriented e1 JOIN oriented e2
        ON e1.src = e2.src AND e1.dst < e2.dst
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM wedges w JOIN oriented e ON e.src = w.a AND e.dst = w.b
    )
    SELECT
      CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
      CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
      CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges,
      CAST(n_triangles AS BIGINT) AS n_triangles,
      CASE WHEN (SELECT count(*) FROM wedges) > 0
           THEN 1.0 * n_triangles / (SELECT count(*) FROM wedges)
           ELSE 0.0 END AS closure_ratio
    FROM tri
    """,
    description="exact triangle count over the part co-occurrence graph "
    "via degree-ordered wedge joins (nodes+edges+wedges+triangles+global "
    "oriented-wedge closure ratio) — the third classic graph workload "
    "next to PageRank "
    "and connected components; the orientation bound is what makes "
    "triangle enumeration feasible at 100 TB",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive triangle enumeration joins the edge list to itself twice with
    no bound on the intermediate: a single hub of degree D emits D^2
    wedges. The classical fix (public: Schank & Wagner 2005; Suri &
    Vassilvitskii WWW'11 for the MapReduce form) orients every edge from
    its lower-(degree, id) endpoint to its higher one: out-degree under
    this orientation is O(sqrt(m)), so the wedge join is O(m^1.5) total
    and hub nodes stop dominating. Every triangle is counted exactly once
    — its two lowest-ordered edges form the wedge, its highest pair
    closes it.

    Plan shape: the co-occurrence self-join is bounded per order (<= 7
    lines each, see :func:`copurchase_edges`); degrees are one partial
    aggregate; the wedge join and closure join are shuffle equi-joins on
    packed integer keys. Nothing touches the driver; the only floats are
    one final ratio. The (degree, id) pack into a single bigint keeps the
    orientation a one-integer comparison identical in both engines."""
    und = copurchase_edges(_year_lines(spark, sf_dir)).where(F.col("src") < F.col("dst"))
    return triangle_stats(und.select(F.col("src").alias("u"), F.col("dst").alias("v")))


def triangle_stats(und: DataFrame) -> DataFrame:
    """Degree-ordered triangle statistics over an undirected edge list
    ``(u, v)`` with ``u < v`` and no duplicates — the engine behind
    :func:`q_triangle_count`, factored out so tests can feed graphs with
    known triangle counts.

    ``und`` and ``oriented`` feed several of the final one-row aggregates,
    so both are pinned: unpinned, each aggregate re-derives the oriented
    edge list (measured 1.79x slower at sf0.1)."""
    und = pin(und)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    shift = F.lit(1 << _TRI_OKEY_SHIFT).cast("long")
    keyed = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            (F.col("du") * shift + F.col("u")).alias("ku"),
            (F.col("dv") * shift + F.col("v")).alias("kv"),
        )
    )
    oriented = pin(keyed.select(
        F.least("ku", "kv").alias("src"), F.greatest("ku", "kv").alias("dst")
    ))
    e1 = oriented.select(F.col("src"), F.col("dst").alias("a"))
    e2 = oriented.select(F.col("src"), F.col("dst").alias("b"))
    wedges = e1.join(e2, "src").where(F.col("a") < F.col("b")).select("a", "b")
    closed = wedges.join(
        oriented,
        (wedges["a"] == oriented["src"]) & (wedges["b"] == oriented["dst"]),
    )
    counts = (
        deg.agg(F.count("*").alias("n_nodes"))
        .crossJoin(und.agg(F.count("*").alias("n_edges")))
        .crossJoin(wedges.agg(F.count("*").alias("n_wedges")))
        .crossJoin(closed.agg(F.count("*").alias("n_triangles")))
    )
    return counts.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.lit(1.0) * F.col("n_triangles") / F.col("n_wedges"),
        )
        .otherwise(F.lit(0.0))
        .alias("closure_ratio"),
    )


# ---------------------------------------------------------------------------
# label propagation — synchronous community detection (fixed iterations)
# ---------------------------------------------------------------------------

LPA_ITERS = 4  # fixed — keeps the SQL oracle an exact unrolled twin


_LPA_ITER_SQL = """
    v{next} AS (
        SELECT e.dst AS node, p.lab, SUM(e.w) AS s
        FROM edges e JOIN l{cur} p ON p.node = e.src
        GROUP BY 1, 2
    ),
    p{next} AS (
        SELECT node, lab FROM v{next}
        QUALIFY row_number() OVER (PARTITION BY node ORDER BY s DESC, lab ASC) = 1
    ),
    l{next} AS (
        SELECT n.node, COALESCE(p.lab, n.node) AS lab
        FROM nodes n LEFT JOIN p{next} p USING (node)
    )"""


def _lpa_oracle() -> str:
    iter_ctes = ",".join(
        _LPA_ITER_SQL.format(cur=i, next=i + 1) for i in range(LPA_ITERS)
    )
    return f"""
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PR_YEAR}-01-01'
          AND l_shipdate <  TIMESTAMP '{PR_YEAR + 1}-01-01'
    ),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               count(DISTINCT a.l_orderkey) AS w
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY src, dst
    ),
    nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
    l0 AS (SELECT node, node AS lab FROM nodes),{iter_ctes}
    SELECT node AS part_id, lab AS community FROM l{LPA_ITERS}
    """


@query(
    "q_lpa_communities",
    oracle=_lpa_oracle(),
    description="named 'graph' workload, community detection: synchronous "
    f"label propagation (Raghavan et al. 2007) over the {PR_YEAR} part "
    f"co-purchase graph, fixed {LPA_ITERS} iterations unrolled as chained "
    "CTEs in the oracle — per node the new label is the neighbor label "
    "with the largest co-occurrence weight sum, ties to the smallest "
    "label; every quantity is an exact integer (orders co-occurred), so "
    "the hash check has no float surface at all. Per iteration: one "
    "shuffle on src (labels join) + one on (node, label) votes — state "
    "is O(|nodes|), the edge fan-out is bounded by TPC-H's <=7 lines per "
    "order, and the static edge table is pinned exactly "
    "like q_pagerank",
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _year_lines(spark, sf_dir)
    # integer weights on purpose (vs copurchase_edges' doubles): LPA's only
    # arithmetic is this sum and its argmax ordering — keeping it in BIGINT
    # makes every iteration exactly order-independent with no decimal cast
    edges = pin(_counted_edges(li))
    nodes = pin(_nodes(li))
    labels = nodes.select("node", F.col("node").alias("lab"))
    for _ in range(LPA_ITERS):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("vnode"), "lab")
            .agg(F.sum("w").alias("s"))
        )
        pick = votes.groupBy("vnode").agg(
            F.min(F.struct((-F.col("s")).alias("neg"), F.col("lab"))).alias("m")
        )
        labels = nodes.join(
            pick, nodes.node == pick.vnode, "left"
        ).select(
            "node", F.coalesce(F.col("m.lab"), F.col("node")).alias("lab")
        )
    return labels.select(
        F.col("node").alias("part_id"), F.col("lab").alias("community")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the part co-purchase graph
# ---------------------------------------------------------------------------

HITS_ITERS = 3  # fixed — keeps the SQL oracle an exact unrolled twin

# each CTE is referenced EXACTLY ONCE by the next one (the normalizing max
# rides a window function instead of a scalar subquery): a CTE referenced
# k times can be inlined k ways by the planner, which across the unrolled
# iteration chain turns the co-purchase join k^iters-exponential — observed
# as a wedged DuckDB when the zero-guard briefly made it 3 references
_HITS_ITER_SQL = """
    ar{next} AS (
        SELECT node, v, max(v) OVER () AS m FROM (
            SELECT n.node, coalesce(
                     CAST(CAST(sum(CAST(p.h * e.w AS DECIMAL(28,12))) AS STRING)
                          AS DOUBLE), 0.0) AS v
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN h{cur} p ON p.node = e.src
            GROUP BY n.node) t
    ),
    a{next} AS (
        SELECT node, CASE WHEN m = 0 THEN 0.0 ELSE v / m END AS a
        FROM ar{next}
    ),
    hr{next} AS (
        SELECT node, v, max(v) OVER () AS m FROM (
            SELECT n.node, coalesce(
                     CAST(CAST(sum(CAST(q.a * e.w AS DECIMAL(28,12))) AS STRING)
                          AS DOUBLE), 0.0) AS v
            FROM nodes n
            LEFT JOIN edges e ON e.src = n.node
            LEFT JOIN a{next} q ON q.node = e.dst
            GROUP BY n.node) t
    ),
    h{next} AS (
        SELECT node, CASE WHEN m = 0 THEN 0.0 ELSE v / m END AS h
        FROM hr{next}
    )"""


def _hits_oracle() -> str:
    iter_ctes = ",".join(
        _HITS_ITER_SQL.format(cur=i, next=i + 1) for i in range(HITS_ITERS)
    )
    return f"""
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PR_YEAR}-01-01'
          AND l_shipdate <  TIMESTAMP '{PR_YEAR + 1}-01-01'
    ),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(DISTINCT a.l_orderkey) AS DOUBLE) AS w
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY src, dst
    ),
    nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
    h0 AS (SELECT node, 1.0 AS h FROM nodes),{iter_ctes}
    SELECT a.node AS part_id, a.a AS authority, h.h AS hub
    FROM a{HITS_ITERS} a JOIN h{HITS_ITERS} h ON h.node = a.node
    """


@query(
    "q_hits",
    oracle=_hits_oracle(),
    description="HITS hubs & authorities (Kleinberg 1999) over the part "
    f"co-purchase graph, fixed {HITS_ITERS} mutual-reinforcement rounds "
    "(authority = in-weighted hub mass, hub = out-weighted authority "
    "mass), MAX-normalized each half-step — max-normalization instead of "
    "L2 keeps every operation inside the decimal-cast sum discipline "
    "(no sqrt), so all scores are bit-identical to the unrolled CTE "
    "oracle. Completes the graph family (PageRank = eigenvector on the "
    "walk matrix; HITS = singular pair on the adjacency). Plan per "
    "half-step: one src- or dst-keyed join + groupBy shuffle with "
    "decimal-exact partial aggregation; the normalizing max is a "
    "1-row broadcast; edge table pinned once (the pagerank discipline). "
    "State is O(|nodes|), never driver-side",
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _year_lines(spark, sf_dir)
    nodes = pin(_nodes(li))
    edges = pin(copurchase_edges(li))

    def half_step(scores: DataFrame, col: str, key: str, other: str) -> DataFrame:
        """One mutual-reinforcement half-step: new[key-side node] =
        max-normalized Σ w · scores[other-side node]."""
        raw = pin(
            nodes.join(edges, nodes.node == edges[key], "left")
            .join(
                scores.select(F.col("node").alias("_sn"), F.col(col).alias("_sv")),
                F.col(other) == F.col("_sn"),
                "left",
            )
            .groupBy(nodes.node)
            .agg(
                F.coalesce(
                    # decimal→STRING→double, symmetric with the oracle's
                    # round-trip (functions/numeric.py): both engines then
                    # take the exact-decimal-string → strtod path, so the
                    # cast stays bit-identical even past 2^53 unscaled
                    F.sum((F.col("_sv") * F.col("w")).cast("decimal(28,12)"))
                    .cast("string")
                    .cast("double"),
                    F.lit(0.0),
                ).alias("v")
            )
        )
        mx = raw.agg(F.max("v").alias("m"))
        # m == 0 (window has nodes but zero co-purchase edges) would yield
        # NaN scores with engine-divergent NaN semantics — emit 0.0 instead,
        # mirrored in the oracle CTE
        return raw.crossJoin(F.broadcast(mx)).select(
            "node",
            F.when(F.col("m") == 0.0, F.lit(0.0))
            .otherwise(F.col("v") / F.col("m"))
            .alias(col),
        )

    h = nodes.select("node", F.lit(1.0).alias("h"))
    for _ in range(HITS_ITERS):
        a = half_step(h, "h", "dst", "src").withColumnRenamed("h", "a")
        h = half_step(a, "a", "src", "dst").withColumnRenamed("a", "h")
    return (
        a.join(h, "node")
        .select(F.col("node").alias("part_id"), F.col("a").alias("authority"), F.col("h").alias("hub"))
    )


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction over the part co-purchase graph
# ---------------------------------------------------------------------------

AA_TOP = 20  # emitted predictions — full (score, pa, pb) total order


@query(
    "q_adamic_adar",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PR_YEAR}-01-01'
          AND l_shipdate <  TIMESTAMP '{PR_YEAR + 1}-01-01'
    ),
    und AS (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb
        FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        WHERE x.l_partkey < y.l_partkey
        GROUP BY pa, pb
    ),
    adj AS (
        SELECT pa AS node, pb AS nb FROM und
        UNION ALL
        SELECT pb AS node, pa AS nb FROM und
    ),
    deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
    scored AS (
        SELECT l.nb AS pa, r.nb AS pb,
               CAST(count(*) AS BIGINT) AS n_common,
               CAST(CAST(sum(CAST(1.0 / ln(CAST(g.d AS DOUBLE))
                                  AS DECIMAL(28,12))) AS STRING) AS DOUBLE)
                 AS aa_score
        FROM adj l
        JOIN adj r ON r.node = l.node AND l.nb < r.nb
        JOIN deg g ON g.node = l.node
        GROUP BY l.nb, r.nb
    )
    SELECT s.pa, s.pb, s.n_common, s.aa_score
    FROM scored s
    LEFT JOIN und u ON u.pa = s.pa AND u.pb = s.pb
    WHERE u.pa IS NULL
    ORDER BY s.aa_score DESC, s.pa, s.pb
    LIMIT {AA_TOP}
    """,
    description="link prediction: Adamic–Adar (Adamic & Adar 2003, "
    "'Friends and neighbors on the Web') over the one-ship-year part "
    "co-purchase graph — for every non-adjacent pair, score = Σ over "
    f"common neighbors z of 1/ln(deg(z)), the top-{AA_TOP} by (score, pa, "
    "pb) total order. Every common-neighbor center has degree ≥ 2 by "
    "construction (it touches both endpoints), so ln(deg) ≥ ln 2 and the "
    "term is always finite. Floats: each 1/ln(d) is the identical IEEE "
    "expression in both engines (one libm ln ulp absorbed by the "
    "DECIMAL(28,12) per-term rounding), the sum is exact decimal, and "
    "the result rides the shared STRING→DOUBLE round-trip. Plan: distinct "
    "undirected edges (one shuffle; fan-out bounded by ≤7 lines/order), "
    "degree as one count, wedges as ONE self-join of the adjacency list "
    "keyed on the center, pair aggregation, anti-join to drop existing "
    "edges. Never corpus²: wedge volume is Σ deg², and at web scale the "
    "standard hub mitigation is a degree cap on centers — a single WHERE "
    "on the deg join — documented, not needed at TPC-H degrees (max 17 "
    "at sf0.1)",
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the graph family's link-prediction corner (PageRank =
    global centrality, HITS = spectral pair, LPA = communities, triangles
    = local clustering; this = missing-edge scoring). Reference scope: the
    reference's graph surface is whatever user JS computed over k/v pairs
    (views.go:53-59); this is the extension-mandate shape for it."""
    # referenced three times (adjacency both ways + the anti-join):
    # pinned, measured paying (1.26x unpinned, sf0.1)
    und = pin(
        copurchase_edges(_year_lines(spark, sf_dir))
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("pa"), F.col("dst").alias("pb"))
    )
    adj = und.select(F.col("pa").alias("node"), F.col("pb").alias("nb")).unionAll(
        und.select(F.col("pb").alias("node"), F.col("pa").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    # a degree-1 node can never be a wedge center (no second neighbor), so
    # its 1/ln(1) term is unreachable — but ANSI mode evaluates the
    # projection eagerly, so filter BEFORE the division (caught by the
    # sf10 decade: the first degree-1 node appears there). Also prunes the
    # wedge self-join input. The oracle only ever divides on joined wedge
    # rows (centers), so it needs no guard.
    term = adj.join(deg, "node").where(F.col("d") >= 2).select(
        "node",
        "nb",
        (F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("t"),
    )
    left = term.select("node", F.col("nb").alias("pa"), "t")
    right = adj.select("node", F.col("nb").alias("pb"))
    scored = (
        left.join(right, "node")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.col("t").cast("decimal(28,12)"))
            .cast("string")
            .cast("double")
            .alias("aa_score"),
        )
    )
    return (
        scored.join(und, ["pa", "pb"], "left_anti")
        .orderBy(F.desc("aa_score"), "pa", "pb")
        .limit(AA_TOP)
    )


# ---------------------------------------------------------------------------
# item-item collaborative filtering over the co-purchase graph
# ---------------------------------------------------------------------------

CF_TOP = 3  # recommendations kept per item


@query(
    "q_item_cf",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PR_YEAR}-01-01'
          AND l_shipdate <  TIMESTAMP '{PR_YEAR + 1}-01-01'
    ),
    baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM li),
    deg AS (SELECT l_partkey AS item, count(*) AS d FROM baskets GROUP BY 1),
    co AS (
        SELECT a.l_partkey AS item, b.l_partkey AS rec,
               count(*) AS w
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.item, c.rec, CAST(c.w AS BIGINT) AS w,
               c.w / (sqrt(CAST(da.d AS DOUBLE)) * sqrt(CAST(db.d AS DOUBLE)))
                 AS cosine,
               row_number() OVER (
                 PARTITION BY c.item
                 ORDER BY c.w / (sqrt(CAST(da.d AS DOUBLE))
                                 * sqrt(CAST(db.d AS DOUBLE))) DESC,
                          c.rec
               ) AS rk
        FROM co c JOIN deg da ON da.item = c.item
                  JOIN deg db ON db.item = c.rec
    )
    SELECT item, rec, w, cosine, CAST(rk AS INT) AS rk
    FROM scored WHERE rk <= {CF_TOP}
    """,
    description="item-to-item collaborative filtering (Linden/Smith/York "
    "2003, the Amazon recommender shape) over one ship-year of order "
    f"baskets: per item the top-{CF_TOP} co-purchased items by cosine on "
    "the binary basket vectors — w(a,b) / sqrt(|a|·|b|), where w counts "
    "shared baskets and |a| is the item's basket degree. Every input to "
    "the score is an exact integer and sqrt/÷ are correctly-rounded IEEE "
    "ops on identical operands, so scores are bit-identical cross-engine "
    "with no decimal detour; ties break on the recommended item id. "
    "Plan: one distinct over (order, part) pairs, one degree census, the "
    "basket self-join (fan-out bounded by ≤7 lines/order — pair volume "
    "is linear in baskets, never items²), a vocabulary-sized window for "
    "the per-item top-k. The classic scale trade vs ALS/embedding "
    "factorization: no training, one shuffle per stage",
)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation joins the graph family (AA predicts missing edges;
    this ranks existing co-purchase strength). Extension mandate — the
    reference's data plane computes whatever user JS maps/reduces emit
    (views.go:53-59); this is the canonical basket workload for it."""
    li = _year_lines(spark, sf_dir)
    deg = li.distinct().groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("d")
    )
    co = _counted_edges(li).select(
        F.col("src").alias("item"), F.col("dst").alias("rec"), "w"
    )
    da = deg.select(F.col("item"), F.col("d").alias("da"))
    db = deg.select(F.col("item").alias("rec"), F.col("d").alias("db"))
    scored = (
        co.join(da, "item")
        .join(db, "rec")
        .select(
            "item",
            "rec",
            "w",
            (
                F.col("w")
                / (F.sqrt(F.col("da").cast("double")) * F.sqrt(F.col("db").cast("double")))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("item").orderBy(F.desc("cosine"), "rec")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= CF_TOP)
        .select("item", "rec", "w", "cosine", "rk")
    )


# ---------------------------------------------------------------------------
# BFS hop distances (single-source shortest unweighted paths, bounded depth)
# ---------------------------------------------------------------------------

BFS_HOPS = 4  # fixed — bounds the recursive oracle and the frontier loop


def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PR_YEAR}-01-01'
          AND l_shipdate <  TIMESTAMP '{PR_YEAR + 1}-01-01'
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
    ),
    walk(node, d) AS (
        SELECT (SELECT min(src) FROM edges), 0
        UNION
        SELECT e.dst, w.d + 1 FROM walk w
        JOIN edges e ON e.src = w.node WHERE w.d < {BFS_HOPS}
    ),
    bfs AS (SELECT node, min(d) AS d FROM walk GROUP BY node)
    SELECT CAST(d AS INT) AS hops,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS sum_node,
           min(node) AS min_node, max(node) AS max_node
    FROM bfs GROUP BY d
    """


@query(
    "q_graph_bfs",
    oracle=_bfs_oracle(),
    description="named 'graph' workload, traversal: single-source BFS hop "
    f"distances (≤{BFS_HOPS} hops) from the smallest part in the {PR_YEAR} "
    "co-purchase graph — per-hop reach census (count / id-sum checksum / "
    "min / max, all exact integers); the oracle is a recursive CTE taking "
    "min(depth) per node, the Spark side the classic frontier loop with an "
    "anti-join visited set — structurally different statements of the same "
    "fixpoint, hash-equal",
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS is the canonical 'iteration with a growing exclusion
    set' shape: per hop one join (frontier ⋈ edges, shuffle on src) + one
    anti-join against the visited set (shuffle on node) — state is
    O(reached nodes), never edges². The static edge table and each new
    frontier are pinned (same lineage discipline as
    q_pagerank/q_lpa_communities: without it hop h re-evaluates hops
    1..h-1, turning a linear loop quadratic). Depth is a fixed constant so
    the plan, like the oracle's recursion bound, is finite by
    construction; at 100 TB this is exactly Pregel-style BFS with the
    visited set as the vertex state, and the bounded-depth variant is the
    one that matters in practice (k-hop neighborhoods for feature
    extraction, blast-radius queries)."""
    edges = pin(
        copurchase_edges(_year_lines(spark, sf_dir))
        .select("src", "dst")
    )
    seed = pin(edges.agg(F.min("src").alias("node")))
    visited = seed.withColumn("hops", F.lit(0))
    frontier = seed
    for h in range(1, BFS_HOPS + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = pin(
            nxt.join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        visited = visited.union(new)
        frontier = new.select("node")
    return visited.groupBy("hops").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("sum_node"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (bounded Bellman–Ford)
# ---------------------------------------------------------------------------

SSSP_HOPS = 4    # relaxation rounds = max path edges considered
SSSP_TOPK = 20   # closest nodes reported
SSSP_SCALE = 1_000_000  # edge length = SCALE DIV co-purchase weight


def _sssp_oracle() -> str:
    return f"""
    WITH RECURSIVE li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PR_YEAR}-01-01'
          AND l_shipdate <  TIMESTAMP '{PR_YEAR + 1}-01-01'
    ),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               {SSSP_SCALE} // count(DISTINCT a.l_orderkey) AS len
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2
    ),
    walk(node, hops, d) AS (
        SELECT (SELECT min(src) FROM edges), 0, CAST(0 AS BIGINT)
        UNION
        SELECT e.dst, w.hops + 1, w.d + e.len
        FROM walk w JOIN edges e ON e.src = w.node WHERE w.hops < {SSSP_HOPS}
    ),
    best AS (SELECT node, min(d) AS dist FROM walk GROUP BY node)
    SELECT node, dist FROM best ORDER BY dist, node LIMIT {SSSP_TOPK}
    """


@query(
    "q_graph_sssp",
    oracle=_sssp_oracle(),
    description="named 'graph' workload, weighted traversal: single-source "
    f"shortest paths (≤{SSSP_HOPS} edges) from the smallest part in the "
    f"{PR_YEAR} co-purchase graph, edge length = {SSSP_SCALE} DIV "
    "co-purchase-order-count (stronger affinity = shorter) — exact "
    f"integer distances, {SSSP_TOPK} closest nodes; Spark runs bounded "
    "Bellman–Ford (state O(nodes), one min-plus relaxation per round), "
    "the oracle a recursive CTE enumerating ≤4-edge path costs and "
    "taking the min — different statements of the same semiring "
    "fixpoint, hash-equal",
)
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bellman–Ford is BFS on the (min, +) semiring: per round one join
    of the current distance table to the edge list (shuffle on src) and
    one min-aggregate on dst — after k rounds the table holds the exact
    minimum over all ≤k-edge paths, which is what the bounded oracle
    enumerates. State stays O(reached nodes); the edge table and each
    round's distances are pinned (q_pagerank lineage
    discipline — without it round k re-derives rounds 1..k-1). Integer
    lengths make every comparison exact: no float path-sum can tie-break
    differently across engines. At 100 TB this is the standard
    Pregel/GraphFrames SSSP shape; the hop bound is the practical form
    (k-hop influence radius) and the convergence-loop variant just runs
    the same round until a round changes nothing."""
    edges = pin(
        _counted_edges(_year_lines(spark, sf_dir))
        .select(
            "src", "dst",
            F.expr(f"CAST({SSSP_SCALE} DIV w AS BIGINT)").alias("len"),
        )
    )
    dist = pin(
        edges.agg(F.min("src").alias("node"))
        .withColumn("d", F.lit(0).cast("long"))
    )
    for _ in range(SSSP_HOPS):
        relaxed = (
            edges.join(dist, edges.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("len")).alias("d"))
        )
        dist = pin(
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
    return (
        dist.orderBy("d", "node")
        .limit(SSSP_TOPK)
        .select("node", F.col("d").alias("dist"))
    )


# ---------------------------------------------------------------------------
# q_kcore — bounded k-core peeling census over the co-purchase graph
# ---------------------------------------------------------------------------

KCORE_K = 8       # the core threshold: survive with >= 8 alive neighbors
KCORE_ROUNDS = 4  # bounded peel rounds (the full decomposition loops the
                  # same round to a fixpoint; 4 rounds is the census probe)


def _kcore_oracle() -> str:
    rounds = []
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
    deg{i} AS (
        SELECT e.src AS node, count(*) AS d
        FROM edges e
        JOIN alive{i - 1} x ON x.node = e.src
        JOIN alive{i - 1} y ON y.node = e.dst
        GROUP BY e.src
    ),
    alive{i} AS (SELECT node FROM deg{i} WHERE d >= {KCORE_K})""")
        rounds.append(f"""
    r{i} AS (
        SELECT {i} AS round,
               (SELECT count(*) FROM alive{i - 1})
                 - (SELECT count(*) FROM alive{i}) AS n_removed,
               (SELECT count(*) FROM alive{i}) AS n_remaining,
               (SELECT min(d) FROM deg{i} WHERE d >= {KCORE_K}) AS min_deg,
               (SELECT max(d) FROM deg{i} WHERE d >= {KCORE_K}) AS max_deg
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM r{i}" for i in range(1, KCORE_ROUNDS + 1))
    return f"""
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= '{PR_YEAR}-01-01' AND l_shipdate < '{PR_YEAR + 1}-01-01'
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    alive0 AS (SELECT DISTINCT src AS node FROM edges),{",".join(rounds)}
    SELECT CAST(round AS INT) AS round,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(n_remaining AS BIGINT) AS n_remaining,
           CAST(min_deg AS BIGINT) AS min_deg,
           CAST(max_deg AS BIGINT) AS max_deg
    FROM ({union})
    """


@query(
    "q_kcore",
    oracle=_kcore_oracle(),
    description=f"bounded k-core peeling (k={KCORE_K}, {KCORE_ROUNDS} "
    "rounds) over the part co-purchase graph: each round recomputes every "
    "surviving node's degree within the surviving subgraph and removes "
    "nodes below k — the classic graph-density screen (Seidman 1983) "
    "behind community seeding and spam/boilerplate hub detection. Census "
    "per round: nodes removed, nodes remaining, min/max surviving degree; "
    "all integers, oracle unrolled as chained CTEs like q_pagerank",
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round = two node-keyed hash joins (edge endpoints against the
    alive set) + one groupBy(src) count — O(|E|) work per round with no
    corpus-scaled single point, the Pregel peeling shape. alive sets and
    the edge list are pinned so round k does not re-derive
    rounds 1..k-1 (q_pagerank lineage discipline). The full decomposition
    runs this exact round to a fixpoint (or uses the O(log n) distributed
    peeling of Esfandiari 2018); the bounded form is the deterministic
    census the oracle can unroll, and at 100 TB it is also the practical
    screen — after 3-4 rounds the survivor set is already the dense core
    that downstream community detection wants. Reference parity: the
    presentation names 'graph traversal' as a target workload
    (presentation.pptx); this is its density-screen sibling on the same
    co-purchase graph as q_pagerank/q_triangle_count."""
    edges = pin(
        copurchase_edges(_year_lines(spark, sf_dir))
        .select("src", "dst")
    )
    alive = pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
    )
    out = None
    for i in range(1, KCORE_ROUNDS + 1):
        deg = (
            edges.join(alive.select(F.col("node").alias("src")), "src")
            .join(alive.select(F.col("node").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        survivors = pin(deg.where(F.col("d") >= KCORE_K))
        prev_n = alive.agg(F.count(F.lit(1)).alias("pn"))
        stats = survivors.agg(
            F.count(F.lit(1)).alias("n_remaining"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
        )
        row = prev_n.join(F.broadcast(stats)).select(
            F.lit(i).alias("round"),
            (F.col("pn") - F.col("n_remaining")).alias("n_removed"),
            "n_remaining",
            F.col("min_deg").cast("long").alias("min_deg"),
            F.col("max_deg").cast("long").alias("max_deg"),
        )
        out = row if out is None else out.unionByName(row)
        alive = pin(survivors.select(F.col("src").alias("node")))
    return out


# ---------------------------------------------------------------------------
# q_graph_modularity — Newman modularity of the brand partition over the
# co-purchase graph (Newman & Girvan 2004): how much more within-brand
# co-purchasing happens than a degree-preserving random graph predicts
# ---------------------------------------------------------------------------

_MOD_EDGE_SQL = f"""
    li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PR_YEAR}-01-01'
          AND l_shipdate <  TIMESTAMP '{PR_YEAR + 1}-01-01'
    ),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(DISTINCT a.l_orderkey) AS BIGINT) AS w
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY src, dst
    )"""


@query(
    "q_graph_modularity",
    oracle=f"""
    WITH {_MOD_EDGE_SQL},
    lab AS (
        SELECT e.src, e.dst, e.w, ps.p_brand AS cs, pd.p_brand AS cd
        FROM edges e JOIN part ps ON ps.p_partkey = e.src
                     JOIN part pd ON pd.p_partkey = e.dst
    ),
    m2t AS (SELECT sum(w) AS m2 FROM lab),
    comm AS (
        SELECT cs AS community,
               CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
               CAST(sum(CASE WHEN cs = cd THEN w ELSE 0 END) AS BIGINT)
                 AS in_w,
               CAST(sum(w) AS BIGINT) AS deg_w
        FROM lab GROUP BY cs
    )
    SELECT community, n_nodes, in_w, deg_w,
           CAST(in_w * (SELECT m2 FROM m2t) - deg_w * deg_w AS BIGINT)
             AS q_num,
           CAST(in_w * (SELECT m2 FROM m2t) - deg_w * deg_w AS DOUBLE)
             / (CAST((SELECT m2 FROM m2t) AS DOUBLE)
                * CAST((SELECT m2 FROM m2t) AS DOUBLE)) AS q_contrib
    FROM comm
    """,
    description="graph-partition quality: Newman modularity (Newman & "
    "Girvan 2004) of the brand partition over the 1995 co-purchase "
    "graph — per community the within-community edge weight, total "
    "degree weight, and the exact contribution (in_c·2m − deg_c²) so "
    "Q = Σ q_num / (2m)² is integer-derived; the standard score for "
    "judging ANY community assignment (the LPA/k-core outputs' quality "
    "metric) against the degree-preserving null model",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: one edge-list pass. The node→community label is
    a dimension join (part → brand, broadcastable); the per-community
    census is a partial-aggregated groupBy on the label, and 2m is one
    scalar broadcast back into the community-sized table. Exact bigint
    arithmetic end to end — in_c·2m and deg_c² stay under 2⁶³ through
    sf100 (2m ≈ 4.5×10⁸ there) — with the single double division last."""
    edges = _counted_edges(_year_lines(spark, sf_dir))
    brand = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lab = pin(
        edges.join(
            F.broadcast(brand.select(F.col("p_partkey").alias("src"),
                                     F.col("p_brand").alias("cs"))),
            "src",
        )
        .join(
            F.broadcast(brand.select(F.col("p_partkey").alias("dst"),
                                     F.col("p_brand").alias("cd"))),
            "dst",
        )
    )
    m2 = lab.agg(F.sum("w").alias("m2")).first()["m2"]
    if m2 is None:
        # zero edges under the ship-date filter: sum() is NULL — return
        # the empty result with the declared schema instead of TypeError
        return local_frame(
            spark,
            [],
            "community string, n_nodes bigint, in_w bigint, deg_w bigint, "
            "q_num bigint, q_contrib double",
        )
    comm = lab.groupBy(F.col("cs").alias("community")).agg(
        F.count_distinct("src").alias("n_nodes"),
        F.sum(F.when(F.col("cs") == F.col("cd"), F.col("w")).otherwise(0)).alias(
            "in_w"
        ),
        F.sum("w").alias("deg_w"),
    )
    qn = F.col("in_w") * F.lit(int(m2)) - F.col("deg_w") * F.col("deg_w")
    return comm.select(
        "community",
        "n_nodes",
        "in_w",
        "deg_w",
        qn.alias("q_num"),
        (qn.cast("double") / F.lit(float(m2) * float(m2))).alias("q_contrib"),
    )


# ---------------------------------------------------------------------------
# q_graph_assortativity — degree assortativity (Newman 2002): do hubs
# co-purchase with hubs? Pearson correlation of endpoint degrees over edges
# ---------------------------------------------------------------------------


@query(
    "q_graph_assortativity",
    oracle=f"""
    WITH {_MOD_EDGE_SQL},
    deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        FROM edges GROUP BY src
    ),
    xy AS (
        SELECT ds.d AS x, dd.d AS y
        FROM edges e JOIN deg ds ON ds.node = e.src
                     JOIN deg dd ON dd.node = e.dst
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM xy
    )
    SELECT n, sx, sy, sxy, sxx, syy,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             AS assortativity
    FROM s
    """,
    description="degree assortativity (Newman 2002) of the 1995 "
    "co-purchase graph: the Pearson correlation of endpoint out-degrees "
    "over all directed edges — positive = hubs link to hubs (social-"
    "style mixing), negative = hub-and-spoke (infrastructure-style). "
    "All five moment sums are exact bigints over integer degrees; the "
    "correlation combines them in one identical IEEE expression, so the "
    "scalar hash-verifies",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: degree table = one groupBy(src) on the edge list;
    endpoint annotation = two hash joins keyed on node (the degree table
    is nodes-sized — joinable by shuffle or broadcast as AQE sizes it);
    the five moments partial-aggregate to a single row. Nothing beyond
    the edge list is ever materialized, and the moment sums stay exact
    (degrees ≤ nodes, Σx·y ≤ E·d²max ≪ 2⁶³ through sf100); only the
    final n·Σxy − Σx·Σy combination needs doubles, done identically in
    both engines."""
    edges = copurchase_edges(_year_lines(spark, sf_dir)).select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    xy = edges.join(
        deg.select(F.col("node").alias("src"), F.col("d").alias("x")), "src"
    ).join(deg.select(F.col("node").alias("dst"), F.col("d").alias("y")), "dst")
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    denx = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    deny = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    return s.select(
        "n", "sx", "sy", "sxy", "sxx", "syy",
        (num / (F.sqrt(denx) * F.sqrt(deny))).alias("assortativity"),
    )
