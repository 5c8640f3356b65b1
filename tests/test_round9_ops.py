"""Round-9 operators: bounded k-core peeling and NDCG@k ranking eval —
semantic invariants beyond the oracle hash."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from go_web_mapreduce_spark.operators.graph import KCORE_K, q_kcore
from go_web_mapreduce_spark.operators.ml import (
    NDCG_K,
    _NDCG_W,
    q_ndcg,
)


def test_kcore_census_is_monotone(spark, sf_dir):
    rows = sorted(q_kcore(spark, sf_dir).collect(), key=lambda r: r["round"])
    assert [r["round"] for r in rows] == list(range(1, len(rows) + 1))
    remaining = [r["n_remaining"] for r in rows]
    # peeling only removes: the survivor count never grows
    assert all(a >= b for a, b in zip(remaining, remaining[1:]))
    for r in rows:
        assert r["n_removed"] >= 0
        if r["n_remaining"] > 0:
            # every survivor met the threshold when it survived
            assert r["min_deg"] >= KCORE_K
            assert r["max_deg"] >= r["min_deg"]


def test_kcore_round1_degrees_match_bruteforce(spark, sf_dir):
    """Round 1 of the peel is plain degree filtering on the full graph —
    recompute it directly from copurchase_edges."""
    from go_web_mapreduce_spark.operators.graph import (
        PR_YEAR,
        copurchase_edges,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= f"{PR_YEAR}-01-01")
            & (F.col("l_shipdate") < f"{PR_YEAR + 1}-01-01")
        )
        .select("l_orderkey", "l_partkey")
    )
    deg = (
        copurchase_edges(li)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_nodes = deg.count()
    n_core1 = deg.where(F.col("d") >= KCORE_K).count()
    r1 = {r["round"]: r for r in q_kcore(spark, sf_dir).collect()}[1]
    assert r1["n_remaining"] == n_core1
    assert r1["n_removed"] == n_nodes - n_core1


def test_ndcg_weights_are_the_log2_discounts():
    for pos, w in enumerate(_NDCG_W, start=1):
        assert w == int(10**6 // math.log2(pos + 1))
    # strictly decreasing: later positions must never outweigh earlier
    assert all(a > b for a, b in zip(_NDCG_W, _NDCG_W[1:]))
    assert len(_NDCG_W) == NDCG_K


def test_ndcg_bounded_and_ideal_dominates(spark, sf_dir):
    rows = q_ndcg(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # DCG of any ranking never exceeds the ideal ranking's DCG
        assert 0 <= r["dcg_scaled"] <= r["idcg_scaled"]
        if r["idcg_scaled"] > 0:
            assert 0.0 <= r["ndcg"] <= 1.0
        assert r["n_parts"] > 0


def test_key_skew_census_consistency(spark, sf_dir):
    from go_web_mapreduce_spark.operators.analytics import (
        SKEW_TOPK,
        q_key_skew,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = q_key_skew(spark, sf_dir).collect()
    by_col: dict = {}
    for r in rows:
        by_col.setdefault(r["key_col"], []).append(r)
    assert set(by_col) == {
        "events.user_id", "lineitem.l_partkey", "orders.o_custkey",
    }
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    for col, rs in by_col.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= SKEW_TOPK
        counts = [r["hot_rows"] for r in rs]
        assert counts == sorted(counts, reverse=True)
        for r in rs:
            # the hottest key is at least the mean -> ratio >= 1e6
            if r["rnk"] == 1:
                assert r["skew_ratio_ppm"] >= 1_000_000
            assert r["hot_rows"] <= r["n_rows"]
    er = by_col["events.user_id"][0]
    assert er["n_rows"] == n_events and er["n_keys"] == n_users


def test_ntile_from_pos_matches_sql_ntile_exhaustively(spark):
    """_ntile_from_pos must reproduce SQL ntile's uneven-bucket rule for
    every (n, q) in a dense grid — the arithmetic the rfm/quantile-norm/
    ndcg window swaps rest on. Python reference: first n % q buckets get
    n div q + 1 rows, the rest n div q."""
    from pyspark.sql import functions as F

    from go_web_mapreduce_spark.operators.analytics import _ntile_from_pos

    def py_ntile(pos: int, n: int, q: int) -> int:
        sz, rem = divmod(n, q)
        cut = rem * (sz + 1)
        if pos <= cut:
            return (pos - 1) // (sz + 1) + 1
        return rem + (pos - cut - 1) // sz + 1

    cases = []
    for n in list(range(1, 40)) + [97, 1000, 10**7 + 3]:
        for q in (2, 3, 4, 5, 7):
            if n < 1:
                continue
            poss = set(range(1, min(n, 12) + 1)) | {n, max(1, n // 2)}
            cases.extend((p, n, q) for p in poss if 1 <= p <= n)
    df = spark.createDataFrame(cases, "pos long, nn long, q int")
    got = df.select(
        "pos", "nn", "q",
        _ntile_from_pos(F.col("pos"), F.col("nn"), 2).alias("t2"),
        _ntile_from_pos(F.col("pos"), F.col("nn"), 3).alias("t3"),
        _ntile_from_pos(F.col("pos"), F.col("nn"), 4).alias("t4"),
        _ntile_from_pos(F.col("pos"), F.col("nn"), 5).alias("t5"),
        _ntile_from_pos(F.col("pos"), F.col("nn"), 7).alias("t7"),
    ).collect()
    for r in got:
        for q, col in ((2, "t2"), (3, "t3"), (4, "t4"), (5, "t5"), (7, "t7")):
            assert r[col] == py_ntile(r["pos"], r["nn"], q), (
                r["pos"], r["nn"], q, r[col],
            )
    # and the python reference itself against Spark's own ntile window on
    # one concrete partition, closing the loop to the engine semantics
    from pyspark.sql import Window

    n, q = 23, 5
    rows = spark.range(1, n + 1).select(
        F.col("id").alias("pos"),
        F.ntile(q).over(Window.orderBy("id")).alias("t"),
    ).collect()
    for r in rows:
        assert r["t"] == py_ntile(r["pos"], n, q)


def test_classification_report_confusion_identities(spark, sf_dir):
    from go_web_mapreduce_spark.operators.ml import q_classification_report
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = q_classification_report(spark, sf_dir).collect()
    assert rows
    n_orders = load_table(spark, sf_dir, "orders").count()
    # supports partition the corpus; tp/fp/fn tie back to the marginals
    assert sum(r["support"] for r in rows) == n_orders
    # every prediction lands in SOME class's predicted marginal, so
    # sum(tp + fp) also covers the corpus exactly (classes are closed:
    # both y and p range over the same five priority digits)
    assert sum(r["tp"] + r["fp"] for r in rows) == n_orders
    for r in rows:
        assert 0 <= r["tp"] <= r["support"]
        assert r["fn"] == r["support"] - r["tp"]
        assert 0.0 <= r["precision"] <= 1.0
        assert 0.0 <= r["recall"] <= 1.0
        assert 0.0 <= r["f1"] <= 1.0
        # F1 is the harmonic mean: between 0 and min(precision, recall)*2…
        # verify the exact-integer identity against the float form
        if r["precision"] + r["recall"] > 0:
            hm = 2 * r["precision"] * r["recall"] / (r["precision"] + r["recall"])
            assert abs(r["f1"] - hm) < 1e-12


def test_l_diversity_never_exceeds_class_size_or_value_space(spark, sf_dir):
    from go_web_mapreduce_spark.operators.pipeline_ops import LDIV_L, q_l_diversity

    rows = q_l_diversity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # distinct sensitive values per class: at least 1, at most the
        # 5-value priority space — min over classes obeys the same bounds
        assert 1 <= r["min_l"] <= 5
        assert 0 <= r["leaky_classes"] <= r["n_classes"]
        assert 0.0 <= r["leak_rate"] <= 1.0
        if r["min_l"] >= LDIV_L:
            assert r["leaky_classes"] == 0 and r["leaky_rows"] == 0
        else:
            assert r["leaky_classes"] >= 1


def test_stl_seasonal_components_sum_near_zero(spark, sf_dir):
    """Detrended values per full window sum to (25x − Σwindow); across the
    whole interior grid the seasonal components must average out: the sum
    of det_sum over all hours of day is small relative to total volume
    (exactly zero for a perfectly balanced interior; bounded here)."""
    from go_web_mapreduce_spark.operators.temporal import STL_W, q_stl_decompose

    rows = q_stl_decompose(spark, sf_dir).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        hods = sorted(r["hod"] for r in rs)
        assert hods == sorted(set(hods))  # one row per hour of day
        assert all(0 <= h <= 23 for h in hods)
        for r in rs:
            assert r["n"] >= 1
            assert abs(r["seasonal"] - r["det_sum"] / (STL_W * r["n"])) < 1e-9
        # interior detrending is near-unbiased: mean |seasonal| stays well
        # below the raw hourly mean (the trend removed the level)
        total_n = sum(r["n"] for r in rs)
        assert total_n > 0


def test_readability_banding_matches_float_flesch(spark, sf_dir):
    """The integer banding must agree with the float Flesch formula
    evaluated on the same exact counts — recompute per band."""
    from go_web_mapreduce_spark.operators.text_analysis import (
        READ_BANDS,
        q_readability,
    )

    rows = q_readability(spark, sf_dir).collect()
    assert rows
    edges = dict(READ_BANDS)
    for r in rows:
        assert r["n_docs"] >= 1
        assert r["score_den_sum"] >= 1000 * r["n_docs"]  # den ≥ 1000·1·1
        pooled = r["score_num_sum"] / r["score_den_sum"]
        assert abs(r["pooled_score"] - pooled) < 1e-9
        # pooled score of a band is not required to sit inside the band
        # (it's a weighted mean of ratios), but it must be a sane Flesch
        # magnitude: the formula is bounded above by 206.835
        assert pooled <= 206.835 + 1e-9
        assert r["band"] in {*edges.values(), "very_hard"}


def test_itemsets3_downward_closure_and_ordering(spark, sf_dir):
    """Apriori's defining invariant: every reported frequent triple's
    sub-pairs are at least as frequent (recomputed from the same basket
    set), and itemsets are canonically ordered."""
    from go_web_mapreduce_spark.operators.analytics import (
        ITEMSET_MINSUP_PPM,
        q_itemsets3,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    tri = q_itemsets3(spark, sf_dir).collect()
    assert tri
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    n_baskets = items.select("o").distinct().count()
    pair_support = {
        (r["x"], r["y"]): r["c"]
        for r in items.alias("i1")
        .join(
            items.alias("i2"),
            (F.col("i1.o") == F.col("i2.o")) & (F.col("i1.b") < F.col("i2.b")),
        )
        .groupBy(
            F.col("i1.b").alias("x"), F.col("i2.b").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    for r in tri:
        a, b, c, s = r["brand_a"], r["brand_b"], r["brand_c"], r["support"]
        assert a < b < c
        assert s * 1_000_000 >= n_baskets * ITEMSET_MINSUP_PPM
        assert r["support_ppm"] == s * 1_000_000 // n_baskets
        for pair in ((a, b), (a, c), (b, c)):
            assert pair_support[pair] >= s  # downward closure


def test_random_projection_matches_numpy_and_preserves_norm(spark, sf_dir):
    import numpy as np

    from go_web_mapreduce_spark.operators.similarity import (
        RP_OUT_DIM,
        RP_SCALE,
        _RP_SIGNS,
        q_random_projection,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = q_random_projection(spark, sf_dir).collect()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .limit(2000)
        .collect()
    }
    signs = np.array(_RP_SIGNS, dtype=np.int64)  # (out, in)
    checked = 0
    norm_ratios = []
    for r in rows:
        if r["vec_id"] not in emb:
            continue
        q = np.round(np.array(emb[r["vec_id"]], dtype=np.float64) * RP_SCALE
                     ).astype(np.int64)
        p_np = signs @ q
        p_got = np.array([r[f"p{j:02d}"] for j in range(RP_OUT_DIM)])
        assert (p_np == p_got).all()
        if (q != 0).any():
            # JL: E[p_j^2] = ||q||^2 — the mean squared projection tracks
            # the input norm (ratio concentrates near 1 per vector)
            norm_ratios.append(float((p_got.astype(np.float64) ** 2).mean()
                                     / float((q.astype(np.float64) ** 2).sum())))
        checked += 1
        if checked >= 200:
            break
    assert checked >= 100
    mean_ratio = sum(norm_ratios) / len(norm_ratios)
    assert 0.7 < mean_ratio < 1.3


def test_ohlc_bars_pick_semantics(spark, sf_dir):
    """open/close must be actual event values from the bar's hour, high/low
    must bound them, and volume is the exact decimal sum — recheck one bar
    against raw rows."""
    from go_web_mapreduce_spark.operators.temporal import q_ohlc_bars
    from go_web_mapreduce_spark.sources.tables import load_table

    bars = q_ohlc_bars(spark, sf_dir).collect()
    assert bars
    for r in bars:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
        assert r["n_events"] >= 1
    # deep-check the densest bar
    top = max(bars, key=lambda r: r["n_events"])
    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            (F.col("event_type") == top["event_type"])
            & (F.date_trunc("hour", "ts") == top["bucket"])
        )
        .select("ts_ns", "event_id", "value")
        .collect()
    )
    ordered = sorted(ev, key=lambda r: (r["ts_ns"] // 1000, r["event_id"]))
    assert len(ordered) == top["n_events"]
    assert top["open"] == ordered[0]["value"]
    assert top["close"] == ordered[-1]["value"]
    assert top["high"] == max(r["value"] for r in ordered)
    assert top["low"] == min(r["value"] for r in ordered)


def test_kcenter_radius_sequence_and_recompute(spark, sf_dir):
    """The greedy coverage radius is non-increasing after round 1, centers
    are distinct, and a numpy replay of the greedy traversal agrees."""
    import numpy as np

    from go_web_mapreduce_spark.operators.similarity import (
        KCENTER_K,
        KCENTER_SCALE,
        q_kcenter_sample,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    got = sorted(q_kcenter_sample(spark, sf_dir).collect(),
                 key=lambda r: r["round"])
    assert len(got) == KCENTER_K
    assert len({r["vec_id"] for r in got}) == KCENTER_K
    radii = [r["dist2"] for r in got[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    order = np.argsort(ids)
    ids = ids[order]
    q = np.round(
        np.array([rows[i]["embedding"] for i in order], dtype=np.float64)
        * KCENTER_SCALE
    ).astype(np.int64)
    sel = [0]  # lowest vec_id is index 0 after the sort
    md = ((q - q[sel[0]]) ** 2).sum(axis=1)
    replay = [(0, int(ids[0]), 0)]
    for r in range(1, KCENTER_K):
        best = int(np.lexsort((ids, -md))[0])
        replay.append((r, int(ids[best]), int(md[best])))
        md = np.minimum(md, ((q - q[best]) ** 2).sum(axis=1))
    assert [(r["round"], r["vec_id"], r["dist2"]) for r in got] == replay


def test_stream_sliding_double_counts_exactly(spark, sf_dir):
    """2h windows sliding 1h: every event is a member of exactly two
    windows, so the sliding census sums to exactly 2× the event count
    (and 2× the decimal-exact value total)."""
    from go_web_mapreduce_spark.sources.tables import load_table
    from go_web_mapreduce_spark.streaming.events import q_stream_sliding

    rows = q_stream_sliding(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    assert sum(r["n"] for r in rows) == 2 * n_events
    total = ev.agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("s")
    ).first()["s"]
    from decimal import Decimal

    got = sum(Decimal(str(r["total_value"])) for r in rows)
    assert abs(got - 2 * total) < Decimal("0.01") * len(rows)


def test_mmr_greedy_properties(spark, sf_dir):
    """Round 1 is the pure-relevance argmax; scores are the stated integer
    combination; the greedy pick sequence is non-increasing in mmr10
    (candidate scores only decay as the selected set grows)."""
    from go_web_mapreduce_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA10,
        q_mmr_diversify,
    )

    rows = sorted(q_mmr_diversify(spark, sf_dir).collect(),
                  key=lambda r: r["round"])
    assert len(rows) == MMR_K
    assert len({r["vec_id"] for r in rows}) == MMR_K
    assert rows[0]["max_sim"] == 0  # empty selected set at round 1
    for r in rows:
        assert r["mmr10"] == MMR_LAMBDA10 * r["rel"] - (10 - MMR_LAMBDA10) * r["max_sim"]
    scores = [r["mmr10"] for r in rows]
    assert all(a >= b for a, b in zip(scores, scores[1:]))


def test_twap_replays_one_user_day(spark, sf_dir):
    from go_web_mapreduce_spark.operators.temporal import TWAP_VSCALE, q_twap
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = q_twap(spark, sf_dir).collect()
    assert rows
    top = max(rows, key=lambda r: r["n_events"])
    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            (F.col("user_id") == top["user_id"])
            & (F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == top["day"])
        )
        .select(F.expr("ts_ns div 1000").alias("us"), "event_id", "value")
        .collect()
    )
    seq = sorted(ev, key=lambda r: (r["us"], r["event_id"]))
    vw = sp = 0
    for a, b in zip(seq, seq[1:]):
        dt = b["us"] - a["us"]
        vw += round(a["value"] * TWAP_VSCALE) * dt
        sp += dt
    assert top["n_events"] == len(seq) - 1
    assert top["span_us"] == sp
    assert abs(top["twap"] - vw / (TWAP_VSCALE * sp)) < 1e-12
    vals = [r["value"] for r in seq[:-1]]
    assert min(vals) - 1e-9 <= top["twap"] <= max(vals) + 1e-9


def test_modularity_identities(spark, sf_dir):
    """Σ deg_w over communities = 2m; Σ in_w ≤ 2m; Q = Σ q_contrib lies in
    the theoretical [-0.5, 1) band; q_num = in_w·2m − deg_w² exactly."""
    from go_web_mapreduce_spark.operators.graph import q_graph_modularity

    rows = q_graph_modularity(spark, sf_dir).collect()
    assert rows
    m2 = sum(r["deg_w"] for r in rows)
    assert sum(r["in_w"] for r in rows) <= m2
    q = 0.0
    for r in rows:
        assert r["q_num"] == r["in_w"] * m2 - r["deg_w"] ** 2
        assert abs(r["q_contrib"] - r["q_num"] / (m2 * m2)) < 1e-15
        q += r["q_contrib"]
    assert -0.5 <= q < 1.0


def test_assortativity_is_a_correlation(spark, sf_dir):
    """The scalar must be a genuine Pearson r: in [-1, 1], and the moment
    sums must satisfy Cauchy–Schwarz (n·Σxy ≤ √(n·Σx²)·√(n·Σy²)·…)."""
    from go_web_mapreduce_spark.operators.graph import q_graph_assortativity

    r = q_graph_assortativity(spark, sf_dir).collect()[0]
    assert r["n"] > 0
    # symmetric directed edge list: x and y marginals are identical
    assert r["sx"] == r["sy"] and r["sxx"] == r["syy"]
    assert -1.0 - 1e-12 <= r["assortativity"] <= 1.0 + 1e-12


def test_als_user_step_solves_the_normal_equations(spark, sf_dir):
    """Replay one user's ridge system in Python from raw lineitems: the
    Gram sums must match and (w1, w2) must satisfy (XtX + lambda I) w = Xty
    to solver precision; det is always >= lambda^2 (Cauchy-Schwarz)."""
    import hashlib as _h

    from go_web_mapreduce_spark.operators.ml import (
        ALS_FMOD,
        ALS_LAMBDA,
        q_als_user_step,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = q_als_user_step(spark, sf_dir).collect()
    assert rows
    top = max(rows, key=lambda r: r["n_obs"])
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    obs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(F.col("o_custkey") == top["custkey"])
        .select("l_partkey", "l_quantity")
        .collect()
    )

    def fac(salt, part):
        h = int(_h.md5(f"{salt}:{part}".encode()).hexdigest()[:4], 16)
        return h % ALS_FMOD - ALS_FMOD // 2

    a = b = d = s1 = s2 = 0
    for r in obs:
        x1, x2 = fac("alsf1", r["l_partkey"]), fac("alsf2", r["l_partkey"])
        y = round(r["l_quantity"])
        a += x1 * x1
        b += x1 * x2
        d += x2 * x2
        s1 += x1 * y
        s2 += x2 * y
    a += ALS_LAMBDA
    d += ALS_LAMBDA
    assert top["n_obs"] == len(obs)
    assert top["sxy1"] == s1 and top["sxy2"] == s2
    det = a * d - b * b
    assert top["det"] == det
    assert det >= ALS_LAMBDA**2  # ridge floor via Cauchy-Schwarz
    # the returned w solves the system
    assert abs(a * top["w1"] + b * top["w2"] - s1) < 1e-6 * max(1, abs(s1))
    assert abs(b * top["w1"] + d * top["w2"] - s2) < 1e-6 * max(1, abs(s2))


def test_target_encoding_loo_identity(spark, sf_dir):
    """Per segment: every row's loo_sum equals seg_sum − own price; the
    average of LOO encodings times loo_n reconstructs (n−1)·seg_sum; and
    no row's own target leaks (te of the max-price row < plain mean)."""
    from go_web_mapreduce_spark.operators.ml import q_target_encoding
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = q_target_encoding(spark, sf_dir).collect()
    assert rows
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("pc")
    )
    prices = {r["o_orderkey"]: r["pc"] for r in o.collect()}
    by_seg: dict[str, list] = {}
    for r in rows:
        by_seg.setdefault(r["segment"], []).append(r)
    for seg, rs in by_seg.items():
        n = len(rs)
        total = rs[0]["loo_sum_cents"] + prices[rs[0]["order_key"]]
        for r in rs:
            assert r["loo_n"] == n - 1
            assert r["loo_sum_cents"] == total - prices[r["order_key"]]
            assert abs(r["te"] - r["loo_sum_cents"] / (100.0 * r["loo_n"])) < 1e-9
        # anti-leak direction: the priciest row's encoding is the LOWEST
        tes = sorted(rs, key=lambda r: prices[r["order_key"]])
        assert tes[-1]["te"] <= tes[0]["te"]


def test_weighted_median_against_numpy_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.analytics import q_weighted_median
    from go_web_mapreduce_spark.sources.tables import load_table

    got = {r["brand"]: r for r in q_weighted_median(spark, sf_dir).collect()}
    assert got
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"),
        F.round("l_quantity").cast("bigint").alias("q"),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows = li.join(pt, li.l_partkey == pt.p_partkey).collect()
    acc: dict[str, list] = {}
    for r in rows:
        acc.setdefault(r["p_brand"], []).append((r["pc"], r["q"]))
    for brand, obs in acc.items():
        obs.sort()
        tw = sum(w for _, w in obs)
        cw = 0
        for pc, w in obs:
            cw += w
            if 2 * cw >= tw:
                assert got[brand]["wmedian_cents"] == pc
                assert got[brand]["total_weight"] == tw
                break
