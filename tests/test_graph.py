"""Tests for the named 'sort' and 'graph' workloads (operators/graph.py)
and the closed-form ML query (operators/ml.py::q_ml_linreg)."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from go_web_mapreduce_spark.operators.graph import (
    PR_DAMPING,
    PR_ITERS,
    SSSP_SCALE,
    _counted_edges,
    _nodes,
    copurchase_edges,
    pagerank,
    range_prefix,
)
from go_web_mapreduce_spark.queries import REGISTRY


def test_global_sort_index_is_the_total_order(spark):
    # shuffled input with a non-trivial key: positions must be exactly the
    # rank in the total order, 1-based, a permutation of 1..N
    rows = [(k % 7, k) for k in range(200)]
    df = spark.createDataFrame(rows, "a int, b int").repartition(5)
    out = range_prefix(df, ["a", "b"], num_partitions=4).collect()
    assert sorted(r["cum_less"] + 1 for r in out) == list(range(1, 201))
    by_pos = sorted(out, key=lambda r: r["cum_less"])
    assert [(r["a"], r["b"]) for r in by_pos] == sorted(rows)


def test_global_sort_index_is_layout_independent(spark):
    rows = [(i * 37 % 101,) for i in range(101)]  # unique keys, scrambled
    a = spark.createDataFrame(rows, "k int").repartition(2)
    b = spark.createDataFrame(rows, "k int").repartition(9)
    ra = {(r["k"], r["cum_less"]) for r in range_prefix(a, "k").collect()}
    rb = {(r["k"], r["cum_less"]) for r in range_prefix(b, "k").collect()}
    assert ra == rb


def test_keyed_midrank_census_matches_window_formulation(spark):
    """The (key, value) census of range_prefix positions — min(cum_less)
    and count per value, the q_spearman shape — must give rank() +
    (count-1)/2 from a per-key window, bit-for-bit, on observations with
    ties, multiple keys and values spanning partition boundaries."""
    import random

    from pyspark.sql import Window as W

    rng = random.Random(7)
    rows = [
        (k, rng.randrange(40)) for k in ("a", "b", "c") for _ in range(300)
    ]
    obs = spark.createDataFrame(rows, "k string, v int").repartition(7)
    cen = (
        range_prefix(obs, "v", key="k", num_partitions=5)
        .groupBy("k", "v")
        .agg(F.min("cum_less").alias("cum_less"), F.count(F.lit(1)).alias("c"))
    )
    midrank = (F.col("cum_less") + 1).cast("double") + (
        F.col("c").cast("double") - 1
    ) / 2
    got = {
        (r["k"], r["v"]): (r["midrank"], r["cum_less"])
        for r in cen.select("k", "v", "cum_less", midrank.alias("midrank"))
        .collect()
    }
    win = obs.select(
        "k",
        "v",
        (
            F.rank().over(W.partitionBy("k").orderBy("v")).cast("double")
            + (F.count(F.lit(1)).over(W.partitionBy("k", "v")).cast("double") - 1)
            / 2
        ).alias("mr"),
    ).collect()
    assert len(got) == obs.groupBy("k", "v").count().count()
    for r in win:
        assert got[(r["k"], r["v"])][0] == r["mr"]  # exact, not approx
    # min(cum_less) is the exact strict-predecessor count
    local = {}
    for k, v in rows:
        local.setdefault(k, []).append(v)
    for (k, v), (_, cl) in got.items():
        assert cl == sum(1 for x in local[k] if x < v)


def test_keyed_midrank_census_composite_order_unit_counts(spark):
    """With a composite unique order, cum_less + 1 is row_number() over
    (key ORDER BY order) — the q_quantile_norm shape."""
    from pyspark.sql import Window as W

    rows = [(k % 3, (k * 37) % 50, k) for k in range(150)]
    df = spark.createDataFrame(rows, "k int, v int, i int").repartition(6)
    out = range_prefix(df, ["v", "i"], key="k", num_partitions=4).collect()
    got = {(r["k"], r["v"], r["i"]): r["cum_less"] + 1 for r in out}
    win = df.select(
        "k", "v", "i",
        F.row_number().over(W.partitionBy("k").orderBy("v", "i")).alias("rn"),
    ).collect()
    assert len(got) == 150
    for r in win:
        assert got[(r["k"], r["v"], r["i"])] == r["rn"]


def _reservoir_input(spark):
    # 50k rows over 8 input partitions: each holds far more rows than
    # RangePartitioner samples, so split points come from a seeded
    # reservoir and differ between separately sampled exchanges
    return spark.range(0, 50_000).repartition(8).select(
        (F.col("id") % 5).cast("string").alias("k1"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("k2"),
        (F.col("id") * 7).alias("payload"),  # a non-sort column
    )


def test_global_sort_index_exact_in_reservoir_regime(spark):
    """Positions must be exactly 1..N even when RangePartitioner's sample
    is a true reservoir, where independently sampled boundaries would
    diverge between the rows and the run-table subplans. The payload
    column must not cross the range exchange: carried through, column
    pruning narrows the run-table subplan and the two plan separately
    sampled exchanges (duplicate positions)."""
    out = range_prefix(_reservoir_input(spark), ["k1", "k2"], num_partitions=4)
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("cum_less").alias("d"),
        F.min("cum_less").alias("mn"),
        F.max("cum_less").alias("mx"),
    ).collect()[0]
    assert agg["mn"] == 0
    assert agg["n"] == agg["d"] == agg["mx"] + 1 == 50_000


def test_keyed_midrank_census_exact_in_reservoir_regime(spark):
    """cum_less must be exact per key in the reservoir-sampling regime
    (see test_global_sort_index_exact_in_...): under a unique order,
    cum_less + 1 must be a permutation of 1..n_k within every key."""
    base = spark.range(0, 50_000).repartition(8).select(
        (F.col("id") % 3).cast("string").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("v"),
        F.col("id").alias("i"),
    )
    out = range_prefix(base, ["v", "i"], key="k", num_partitions=4)
    agg = out.groupBy("k").agg(
        F.count("*").alias("n"),
        F.countDistinct("cum_less").alias("d"),
        F.min("cum_less").alias("mn"),
        F.max("cum_less").alias("mx"),
    ).collect()
    for r in agg:
        assert r["mn"] == 0
        assert r["n"] == r["d"] == r["mx"] + 1


def test_range_prefix_final_plan_shares_one_range_exchange(spark):
    """On the final AQE plan of a reservoir-regime input with a payload
    column: one physical range exchange, read by the second consumer as
    ReusedExchange; no Python node, no window; only the sort columns and
    cum_less come out."""
    out = range_prefix(_reservoir_input(spark), "k2", key="k1", num_partitions=4)
    qe = out._jdf.queryExecution()
    qe.toRdd().count()
    plan = qe.executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0].splitlines()
    ranges = [ln for ln in final if "Exchange rangepartitioning" in ln]
    assert len(ranges) == 2, ranges
    assert sum("ReusedExchange" in ln for ln in ranges) == 1, ranges
    assert "MapInPandas" not in plan
    assert "Window [" not in plan
    assert out.columns == ["k1", "k2", "cum_less"]


def _sampling_threshold(num_partitions: int, input_partitions: int) -> int:
    # RangePartitioner samples every row of an input partition up to
    # ceil(3 · 100 · num_partitions / input_partitions) rows, and a
    # reservoir beyond that
    return -(-3 * 100 * num_partitions // input_partitions)


@given(
    num_partitions=st.integers(2, 8),
    input_partitions=st.integers(2, 4),
    n_keys=st.sampled_from([None, 1, 2, 3, 4, 5]),
    n_values=st.sampled_from([7, 10**9]),  # ties or (almost) none
    unique=st.booleans(),
    reservoir=st.booleans(),
    seed=st.integers(0, 2**16),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_range_prefix_counts_strictly_smaller_rows(
    spark, num_partitions, input_partitions, n_keys, n_values, unique,
    reservoir, seed,
):
    """For any partition count, key cardinality (NULL included) and tie
    pattern, on both sides of the exhaustive/reservoir sampling
    threshold: every row's cum_less lies within its tie group's span of
    positions, a tie group's smallest cum_less is the number of same-key
    rows with a strictly smaller order, and cum_less is a permutation of
    0..n_k-1 per key. Checked row by row on collected output."""
    import random
    from collections import Counter, defaultdict

    rng = random.Random(seed)
    t = _sampling_threshold(num_partitions, input_partitions)
    per_part = 2 * t + rng.randrange(t) if reservoir else max(1, t // 2)
    n = per_part * input_partitions

    def key_of(i):
        # a keyed run also carries a NULL key group
        if not n_keys:
            return 0
        return None if i % 11 == 0 else i % n_keys

    rows = [(key_of(i), rng.randrange(n_values), i) for i in range(n)]
    order = ["v", "i"] if unique else ["v"]
    df = spark.sparkContext.parallelize(rows, input_partitions).toDF(
        "k long, v long, i long"
    )
    key = "k" if n_keys else None
    out = range_prefix(
        df, order, key=key, num_partitions=num_partitions
    ).collect()
    assert len(out) == n

    counts = defaultdict(Counter)  # key -> order tuple -> rows
    for k, v, i in rows:
        counts[k][(v, i)[: len(order)]] += 1
    less, ties = {}, {}
    for k, c in counts.items():
        seen = 0
        for sk in sorted(c):
            less[k, sk], ties[k, sk] = seen, c[sk]
            seen += c[sk]

    got = defaultdict(list)
    group_min = {}
    for r in out:
        k = r["k"] if key else 0
        sk = tuple(r[c] for c in order)
        cl = r["cum_less"]
        assert less[k, sk] <= cl < less[k, sk] + ties[k, sk]
        group_min[k, sk] = min(group_min.get((k, sk), cl), cl)
        got[k].append(cl)
    assert group_min == less
    for k, cls in got.items():
        assert sorted(cls) == list(range(sum(counts[k].values())))


def test_pagerank_uniform_on_symmetric_complete_graph(spark):
    # triangle: every node has identical in/out structure, so rank stays at
    # its initial 1.0 through every iteration of the (1-d) + d·Σ formula
    edges = spark.createDataFrame(
        [(a, b, 1.0) for a in range(3) for b in range(3) if a != b],
        "src long, dst long, w double",
    )
    nodes = spark.createDataFrame([(i,) for i in range(3)], "node long")
    got = {r["node"]: r["r"] for r in pagerank(nodes, edges).collect()}
    assert all(abs(v - 1.0) < 1e-12 for v in got.values())


def test_pagerank_matches_dense_numpy_iteration(spark):
    # small directed weighted graph; replicate the exact fixed-iteration
    # recurrence densely in numpy
    raw = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 0, 5.0)]
    n = 4
    edges = spark.createDataFrame(raw, "src long, dst long, w double")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    got = {r["node"]: r["r"] for r in pagerank(nodes, edges).collect()}

    P = np.zeros((n, n))
    wout = {}
    for s, d, w in raw:
        wout[s] = wout.get(s, 0.0) + w
    for s, d, w in raw:
        P[d, s] = w / wout[s]
    r = np.ones(n)
    for _ in range(PR_ITERS):
        r = (1 - PR_DAMPING) + PR_DAMPING * (P @ r)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])


def test_copurchase_edges_weights_and_symmetry(spark):
    # order 1 holds parts {10, 20, 20}, order 2 holds {10, 20}: the pair
    # (10,20) co-occurs in two distinct orders → weight 2, both directions
    rows = [(1, 10), (1, 20), (1, 20), (2, 10), (2, 20), (3, 30)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {(r["src"], r["dst"]): r["w"] for r in copurchase_edges(li).collect()}
    assert got == {(10, 20): 2.0, (20, 10): 2.0}

    # every graph query reads this one edge list through a view; with one
    # more part (40, in order 2 only) each view must equal the pure-Python
    # graph: orders → distinct parts → ordered pairs counted once per order
    rows.append((2, 40))
    li = spark.createDataFrame(rows, li.schema)
    baskets: dict[int, set] = {}
    for o, p in rows:
        baskets.setdefault(o, set()).add(p)
    want_w: dict[tuple, int] = {}
    for parts in baskets.values():
        for s in parts:
            for d in parts - {s}:
                want_w[(s, d)] = want_w.get((s, d), 0) + 1
    assert want_w[(10, 20)] == 2 and want_w[(10, 40)] == 1

    edges = copurchase_edges(li)
    directed = [(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()]
    assert sorted(directed) == sorted(want_w)  # no duplicate pair
    und = edges.where(F.col("src") < F.col("dst")).select("src", "dst").collect()
    assert sorted((r["src"], r["dst"]) for r in und) == sorted(
        (s, d) for s, d in want_w if s < d
    )
    counted = _counted_edges(li)
    assert dict(counted.dtypes)["w"] == "bigint"
    assert {(r["src"], r["dst"]): r["w"] for r in counted.collect()} == want_w
    lengths = counted.select(
        "src", "dst", F.expr(f"CAST({SSSP_SCALE} DIV w AS BIGINT)").alias("len")
    ).collect()
    assert {(r["src"], r["dst"]): r["len"] for r in lengths} == {
        e: SSSP_SCALE // w for e, w in want_w.items()
    }
    # the vertex set keeps the singleton order's edgeless part 30
    assert sorted(r["node"] for r in _nodes(li).collect()) == [10, 20, 30, 40]


def test_ml_linreg_matches_numpy_lstsq(spark, sf_dir):
    out = REGISTRY["q_ml_linreg"].fn(spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    ).collect()
    groups: dict[tuple, list] = {}
    for r in li:
        groups.setdefault((r["l_returnflag"], r["l_linestatus"]), []).append(
            (r["l_quantity"], r["l_extendedprice"])
        )
    assert len(out) == len(groups)
    for row in out:
        pts = np.array(groups[(row["l_returnflag"], row["l_linestatus"])])
        A = np.vstack([pts[:, 0], np.ones(len(pts))]).T
        slope, intercept = np.linalg.lstsq(A, pts[:, 1], rcond=None)[0]
        assert abs(row["slope"] - slope) < 1e-4
        assert abs(row["intercept"] - intercept) < 1e-3
        assert row["n"] == len(pts)


def test_triangle_stats_on_known_graphs(spark):
    """K4 has 4 triangles and 12 wedges under any orientation-consistent
    counting (closure ratio 1.0); a 4-cycle has wedges but zero
    triangles; a star has zero. Brute-force parity on a random-ish graph
    pins the degree-ordered join against itertools."""
    from itertools import combinations

    from go_web_mapreduce_spark.operators.graph import triangle_stats

    def run(edges):
        df = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], "u long, v long"
        ).distinct()
        return triangle_stats(df).collect()[0]

    k4 = list(combinations(range(4), 2))
    r = run(k4)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    assert r["closure_ratio"] == 1.0

    cycle4 = [(0, 1), (1, 2), (2, 3), (3, 0)]
    r = run(cycle4)
    assert r["n_triangles"] == 0 and r["n_wedges"] > 0

    star = [(0, i) for i in range(1, 7)]
    r = run(star)
    assert r["n_triangles"] == 0

    # deterministic pseudo-random graph vs brute force
    nodes = range(12)
    edges = [
        (a, b)
        for a, b in combinations(nodes, 2)
        if (a * 7 + b * 13) % 3 == 0
    ]
    eset = set(edges)
    brute = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    r = run(edges)
    assert r["n_triangles"] == brute


def test_interval_merge_matches_brute_force(spark, sf_dir):
    """Replay the interval merge in plain Python per user and compare
    island counts and covered time exactly."""
    from go_web_mapreduce_spark.operators.temporal import (
        INTERVAL_LEN_US,
        q_interval_merge,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    got = {r["user_id"]: r for r in q_interval_merge(spark, sf_dir).collect()}
    rows = (
        load_table(spark, sf_dir, "events")
        .selectExpr("user_id", "ts_ns div 1000 AS s")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["s"])
    for uid, starts in by_user.items():
        starts.sort()
        islands = []
        for s in starts:
            e = s + INTERVAL_LEN_US
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        g = got[uid]
        assert g["n_islands"] == len(islands)
        assert g["covered_us"] == sum(e - s for s, e in islands)
        assert g["longest_us"] == max(e - s for s, e in islands)


def test_jsonl_roundtrip_survives_hostile_strings(spark, tmp_path):
    """Embedded newlines, quotes, backslash-N, unicode, empty string and
    NULL must all round-trip byte-identically through the JSONL path —
    including the \\N content that the CSV dialect reserves."""
    hostile = [
        (1, 'line1\nline2', "en"),
        (2, 'quote " and \\ backslash', "en"),
        (3, "\\N", "de"),          # CSV's reserved sentinel is safe here
        (4, "", "de"),             # empty string stays empty, not NULL
        (5, None, "fr"),           # NULL stays NULL
        (6, "emoji \U0001f600 and sőr", "hu"),
        (7, "tab\tand\rcarriage", "en"),
    ]
    df = spark.createDataFrame(hostile, "doc_id long, text string, lang string")
    path = str(tmp_path / "jsonl")
    df.write.mode("overwrite").json(path)
    back = spark.read.schema("doc_id long, text string, lang string").json(path)
    assert sorted(map(tuple, back.collect())) == sorted(hostile)


def test_lpa_communities_properties(spark, sf_dir):
    """LPA output must cover every part in the year exactly once, use only
    node ids as community labels (labels originate as node ids and
    propagation can only copy them), find real structure (more than one
    community, fewer communities than nodes), and be deterministic
    across runs (fixed iterations, integer-exact votes, no RNG)."""
    from go_web_mapreduce_spark.operators.graph import PR_YEAR, q_lpa_communities
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = q_lpa_communities(spark, sf_dir).collect()
    got = {r["part_id"]: r["community"] for r in rows}
    assert len(got) == len(rows)  # one row per node

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= f"{PR_YEAR}-01-01")
        & (F.col("l_shipdate") < f"{PR_YEAR + 1}-01-01")
    )
    expect_nodes = {r["l_partkey"] for r in li.select("l_partkey").distinct().collect()}
    assert set(got) == expect_nodes

    assert set(got.values()) <= expect_nodes
    n_comm = len(set(got.values()))
    assert 1 < n_comm < len(got)

    again = {r["part_id"]: r["community"] for r in q_lpa_communities(spark, sf_dir).collect()}
    assert again == got
