"""Tests for the round-8 additions: Adamic–Adar link prediction,
passage-level dedup, multinomial naive Bayes."""

from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from go_web_mapreduce_spark.sources.tables import load_table


def test_adamic_adar_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.graph import AA_TOP, PR_YEAR, q_adamic_adar

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= f"{PR_YEAR}-01-01")
            & (F.col("l_shipdate") < f"{PR_YEAR + 1}-01-01")
        )
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    by_order: dict = defaultdict(set)
    for r in li:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    und: set = set()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            und.add((a, b))
    nbrs: dict = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    scores: dict = {}
    for z, nz in nbrs.items():
        for a, b in combinations(sorted(nz), 2):
            if (a, b) in und:
                continue
            n, s = scores.get((a, b), (0, 0.0))
            scores[(a, b)] = (n + 1, s + 1.0 / math.log(len(nz)))
    expect = sorted(
        ((v[1], k[0], k[1], v[0]) for k, v in scores.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:AA_TOP]

    got = q_adamic_adar(spark, sf_dir).collect()
    assert len(got) == min(AA_TOP, len(scores))
    for row, (s, pa, pb, n) in zip(got, expect):
        assert (row["pa"], row["pb"], row["n_common"]) == (pa, pb, n)
        assert row["aa_score"] == pytest.approx(s, rel=1e-9)
    # no predicted pair may already be an edge
    assert all((r["pa"], r["pb"]) not in und for r in got)


def test_adamic_adar_centers_have_degree_at_least_two(spark, sf_dir):
    # every common-neighbor term is 1/ln(d) with d >= 2, so each pair's
    # score is at most n_common / ln(2) and strictly positive
    from go_web_mapreduce_spark.operators.graph import q_adamic_adar

    for r in q_adamic_adar(spark, sf_dir).collect():
        assert r["n_common"] >= 1
        assert 0.0 < r["aa_score"] <= r["n_common"] / math.log(2) + 1e-9


def test_passage_dedup_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.dedup import PASSAGE_TOKENS, q_passage_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    first: dict = {}
    stats: dict = defaultdict(lambda: [0, set(), 0, 0, 0])
    inst = []
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        tk = [t for t in r["text"].lower().split(" ") if t]
        for pos, s in enumerate(range(0, max(len(tk), 1), PASSAGE_TOKENS)):
            p = tk[s : s + PASSAGE_TOKENS]
            if not p:
                continue
            key = " ".join(p)
            inst.append((r["doc_id"], pos, r["source"], key, len(p)))
            first.setdefault(key, (r["doc_id"], pos))
    for doc_id, pos, source, key, n in inst:
        st = stats[source]
        st[0] += 1
        st[1].add(key)
        st[3] += n
        if first[key] == (doc_id, pos):
            st[2] += 1
            st[4] += n
    got = {r["source"]: r for r in q_passage_dedup(spark, sf_dir).collect()}
    assert set(got) == set(stats)
    for src, st in stats.items():
        g = got[src]
        assert (
            g["n_passages"], g["distinct_passages"], g["n_kept"],
            g["tokens_total"], g["tokens_kept"],
        ) == (st[0], len(st[1]), st[2], st[3], st[4])
    # exactly one kept instance per distinct passage corpus-wide
    assert sum(st[2] for st in stats.values()) == len(first)


def test_naive_bayes_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.ml import NB_TEST_MOD, q_naive_bayes

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    cwc: dict = defaultdict(lambda: defaultdict(int))
    n_docs: dict = defaultdict(int)
    vocab: set = set()
    test = []
    for r in docs:
        tk = [t for t in r["text"].lower().split(" ") if t]
        if r["doc_id"] % NB_TEST_MOD == 0:
            test.append((r["lang"], tk))
        else:
            n_docs[r["lang"]] += 1
            for w in tk:
                cwc[r["lang"]][w] += 1
                vocab.add(w)
    total = {c: sum(ws.values()) for c, ws in cwc.items()}
    n_train = sum(n_docs.values())
    v = len(vocab)
    confusion: dict = defaultdict(int)
    for lang, tk in test:
        best = None
        for c in sorted(n_docs):
            s = math.log(n_docs[c] / n_train)
            counts: dict = defaultdict(int)
            for w in tk:
                counts[w] += 1
            for w, n in counts.items():
                # replicate the DECIMAL(28,12) per-term rounding
                t = n * math.log((cwc[c].get(w, 0) + 1) / (total[c] + v))
                s += round(t, 12)
            if best is None or s > best[0] + 1e-12:
                best = (s, c)
        confusion[(lang, best[1])] += 1
    got = {
        (r["lang"], r["predicted"]): r["n"]
        for r in q_naive_bayes(spark, sf_dir).collect()
    }
    assert got == dict(confusion)
    assert sum(got.values()) == len(test)


def test_profile_table_matches_pandas_census(spark, sf_dir):
    from go_web_mapreduce_spark.operators.analytics import q_profile_table

    orders = load_table(spark, sf_dir, "orders").collect()
    canon = {
        "o_orderkey": lambda r: str(r["o_orderkey"]),
        "o_custkey": lambda r: str(r["o_custkey"]),
        "o_orderstatus": lambda r: r["o_orderstatus"],
        "o_totalprice": lambda r: f"{r['o_totalprice']:.2f}",
        "o_orderdate": lambda r: r["o_orderdate"].strftime("%Y-%m-%d %H:%M:%S"),
        "o_orderpriority": lambda r: r["o_orderpriority"],
    }
    got = {r["column_name"]: r for r in q_profile_table(spark, sf_dir).collect()}
    assert set(got) == set(canon)
    for name, fn in canon.items():
        vals = [fn(r) for r in orders if r[name] is not None]
        g = got[name]
        assert g["n_rows"] == len(orders)
        assert g["n_null"] == len(orders) - len(vals)
        assert g["n_distinct"] == len(set(vals))
        assert (g["min_v"], g["max_v"]) == (min(vals), max(vals))
        assert g["avg_len"] == pytest.approx(
            sum(len(v) for v in vals) / len(vals), rel=1e-12
        )


def test_holt_forecast_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.temporal import q_holt_forecast

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    ).collect()
    daily: dict = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for r in ev:
        cell = daily[r["event_type"]][r["day"]]
        # replicate the DECIMAL(18,2)-exact sum: accumulate cents
        cell[0] += round(r["value"] * 100)
        cell[1] += 1
    got = {r["event_type"]: r for r in q_holt_forecast(spark, sf_dir).collect()}
    assert set(got) == set(daily)
    for et, days in daily.items():
        series = [
            (days[d][0] / 100) / days[d][1] for d in sorted(days)
        ]
        l, b = series[0], 0.0
        for m in series[1:]:
            l2 = 0.5 * m + 0.5 * (l + b)
            b = 0.3 * (l2 - l) + 0.7 * b
            l = l2
        g = got[et]
        assert g["n_days"] == len(series)
        assert g["level"] == pytest.approx(l, rel=1e-12)
        assert g["trend"] == pytest.approx(b, rel=1e-9)
        for h in (1, 2, 3):
            assert g[f"fc_{h}"] == pytest.approx(l + h * b, rel=1e-9)


def test_item_cf_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.graph import CF_TOP, PR_YEAR, q_item_cf

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= f"{PR_YEAR}-01-01")
            & (F.col("l_shipdate") < f"{PR_YEAR + 1}-01-01")
        )
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    baskets: dict = defaultdict(set)
    for r in li:
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    deg: dict = defaultdict(int)
    co: dict = defaultdict(int)
    for parts in baskets.values():
        for p in parts:
            deg[p] += 1
        for a in parts:
            for b in parts:
                if a != b:
                    co[(a, b)] += 1
    ranked: dict = defaultdict(list)
    for (a, b), w in co.items():
        ranked[a].append((-(w / (math.sqrt(deg[a]) * math.sqrt(deg[b]))), b, w))
    got = defaultdict(list)
    for r in q_item_cf(spark, sf_dir).collect():
        got[r["item"]].append((r["rk"], r["rec"], r["w"], r["cosine"]))
    assert set(got) == set(ranked)
    for item, cands in ranked.items():
        cands.sort()
        mine = sorted(got[item])
        assert len(mine) == min(CF_TOP, len(cands))
        for (rk, rec, w, cos), (negcos, erec, ew) in zip(mine, cands):
            assert (rec, w) == (erec, ew)
            assert cos == pytest.approx(-negcos, rel=1e-12)


def test_ctfidf_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.text_analysis import (
        CTFIDF_TOPK,
        q_ctfidf_terms,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    cls: dict = defaultdict(lambda: defaultdict(int))
    for r in docs:
        for t in r["text"].lower().split(" "):
            if t:
                cls[r["source"]][t] += 1
    tc = {s: sum(ws.values()) for s, ws in cls.items()}
    fw: dict = defaultdict(int)
    for ws in cls.values():
        for t, n in ws.items():
            fw[t] += n
    total, nc = sum(tc.values()), len(cls)
    got = defaultdict(dict)
    for r in q_ctfidf_terms(spark, sf_dir).collect():
        got[r["source"]][r["rk"]] = (r["token"], r["tf"], r["score"])
    assert set(got) == set(cls)
    for s, ws in cls.items():
        scored = sorted(
            (-(n / tc[s]) * math.log(1 + (total / nc) / fw[t]), t, n)
            for t, n in ws.items()
        )[:CTFIDF_TOPK]
        for rk, (negscore, t, n) in enumerate(scored, 1):
            gt, gn, gs = got[s][rk]
            assert (gt, gn) == (t, n)
            assert gs == pytest.approx(-negscore, rel=1e-12)


# ---------------------------------------------------------------------------
# round-8 continuation: BFS, edit-distance dedup, stump, skip-gram PPMI,
# and the connector/layout family (ORC, partitioned prune, bucketed join)
# ---------------------------------------------------------------------------


def test_graph_bfs_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.graph import BFS_HOPS, PR_YEAR, q_graph_bfs

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= f"{PR_YEAR}-01-01")
            & (F.col("l_shipdate") < f"{PR_YEAR + 1}-01-01")
        )
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    by_order: dict = defaultdict(set)
    for r in li:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    nbrs: dict = defaultdict(set)
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            nbrs[a].add(b)
            nbrs[b].add(a)
    seed = min(nbrs)  # min(src) == min node with at least one edge
    dist = {seed: 0}
    frontier = {seed}
    for h in range(1, BFS_HOPS + 1):
        nxt = set()
        for u in frontier:
            nxt |= nbrs[u]
        frontier = {v for v in nxt if v not in dist}
        for v in frontier:
            dist[v] = h
    expect = defaultdict(list)
    for node, d in dist.items():
        expect[d].append(node)

    got = {r["hops"]: r for r in q_graph_bfs(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for d, nodes in expect.items():
        assert got[d]["n_nodes"] == len(nodes)
        assert got[d]["sum_node"] == sum(nodes)
        assert got[d]["min_node"] == min(nodes)
        assert got[d]["max_node"] == max(nodes)


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_dedup_edit_distance_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.dedup import (
        EDIT_LEN_BAND,
        EDIT_PFX,
        EDIT_SIM_PPM,
        q_dedup_edit_distance,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    by_pfx: dict = defaultdict(list)
    for r in docs:
        by_pfx[r["text"][:EDIT_PFX]].append((r["doc_id"], r["text"]))
    expect = {}
    for block in by_pfx.values():
        for (ia, ta), (ib, tb) in combinations(sorted(block), 2):
            m = max(len(ta), len(tb))
            if abs(len(ta) - len(tb)) * EDIT_LEN_BAND > m:
                continue
            d = _levenshtein(ta, tb)
            ppm = (m - d) * 1_000_000 // m
            if ppm >= EDIT_SIM_PPM:
                expect[(ia, ib)] = (d, ppm)

    got = q_dedup_edit_distance(spark, sf_dir).collect()
    assert {(r["doc_a"], r["doc_b"]): (r["dist"], r["sim_ppm"]) for r in got} == expect


def test_decision_stump_is_exact_argmin(spark, sf_dir):
    from go_web_mapreduce_spark.operators.ml import q_decision_stump

    rows = load_table(spark, sf_dir, "documents").select("n_chars", "lang").collect()
    data = sorted((r["n_chars"], 1 if r["lang"] == "en" else 0) for r in rows)
    n, pos = len(data), sum(y for _, y in data)
    best = None
    for t in sorted({x for x, _ in data}):
        nl = sum(1 for x, _ in data if x <= t)
        pl = sum(y for x, y in data if x <= t)
        err = (nl - max(pl, nl - pl)) + ((n - nl) - max(pos - pl, (n - nl) - (pos - pl)))
        if best is None or (err, t) < best[:2]:
            best = (err, t, nl, pl)

    got = q_decision_stump(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    err, t, nl, pl = best
    assert (r["threshold"], r["err"], r["n"], r["pos"]) == (t, err, n, pos)
    assert r["left_pred"] == (1 if pl > nl - pl else 0)
    assert r["right_pred"] == (1 if (pos - pl) > (n - nl) - (pos - pl) else 0)
    assert r["acc_ppm"] == (n - err) * 1_000_000 // n
    # the stump can never be worse than always predicting the majority class
    assert err <= n - max(pos, n - pos)


def test_skipgram_ppmi_matches_bruteforce(spark, sf_dir):
    from fractions import Fraction

    from go_web_mapreduce_spark.operators.text_analysis import (
        SGP_MIN_C,
        SGP_TOPK,
        SGP_WINDOW,
        q_skipgram_ppmi,
    )

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    cnt: dict = defaultdict(int)
    for r in docs:
        tk = [t for t in r["text"].lower().split(" ") if t]
        for d in range(1, SGP_WINDOW + 1):
            for i in range(len(tk) - d):
                cnt[f"{tk[i]} {tk[i + d]}"] += 1
    total = sum(cnt.values())
    cw1: dict = defaultdict(int)
    cw2: dict = defaultdict(int)
    for pr, c in cnt.items():
        a, b = pr.split(" ")
        cw1[a] += c
        cw2[b] += c
    scored = [
        (Fraction(c * total, cw1[pr.split(" ")[0]] * cw2[pr.split(" ")[1]]), pr, c)
        for pr, c in cnt.items()
        if c >= SGP_MIN_C
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    expect = scored[:SGP_TOPK]

    got = q_skipgram_ppmi(spark, sf_dir).collect()
    assert len(got) == len(expect)
    for row, (lift, pr, c) in zip(got, expect):
        assert (row["pr"], row["c"]) == (pr, c)
        want = math.log(float(lift)) if lift > 1 else 0.0
        assert row["ppmi"] == pytest.approx(want, rel=1e-9, abs=1e-12)
        assert row["ppmi"] >= 0.0


def test_orc_roundtrip_equals_direct_aggregation(spark, sf_dir):
    from go_web_mapreduce_spark.operators.pipeline_ops import q_orc_roundtrip

    direct = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_unique"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .collect()
    )
    got = q_orc_roundtrip(spark, sf_dir).collect()
    key = lambda r: (r["lang"], r["source"])  # noqa: E731
    assert sorted(map(tuple, got)) == sorted(map(tuple, direct))
    assert len({key(r) for r in got}) == len(got)


def test_bucketed_join_equals_plain_join(spark, sf_dir):
    from go_web_mapreduce_spark.operators.pipeline_ops import q_bucketed_join

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    plain = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .collect()
    )
    got = {r["o_orderpriority"]: r for r in q_bucketed_join(spark, sf_dir).collect()}
    assert len(got) == len(plain)
    for p in plain:
        g = got[p["o_orderpriority"]]
        assert (g["n_orders"], g["n_nations"]) == (p["n_orders"], p["n_nations"])


def test_partitioned_prune_sees_only_english(spark, sf_dir):
    from go_web_mapreduce_spark.operators.pipeline_ops import q_partitioned_prune

    direct = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_unique"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .collect()
    )
    got = q_partitioned_prune(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, direct))


def test_rolling_ols_matches_numpy_per_window(spark, sf_dir):
    import numpy as np

    from go_web_mapreduce_spark.operators.temporal import ROLL_K, q_rolling_ols

    got = q_rolling_ols(spark, sf_dir).collect()
    assert got, "expect at least one full 7-day window"
    # rebuild the daily-mean series exactly as the query defines it
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily: dict = defaultdict(dict)
    acc: dict = defaultdict(lambda: [0, 0])
    for r in ev.collect():
        k = (r["event_type"], r["ts"].strftime("%Y-%m-%d"))
        a = acc[k]
        a[0] += round(r["value"] * 100)  # exact integer cents (DECIMAL(18,2))
        a[1] += 1
    for (et, day), (cents, n) in acc.items():
        daily[et][day] = (cents / 100) / n
    x = np.arange(ROLL_K, dtype=float)
    for r in got:
        series = daily[r["event_type"]]
        days = sorted(series)
        i = days.index(r["day"])
        assert i >= ROLL_K - 1, "window must be full"
        y = np.array([series[d] for d in days[i - ROLL_K + 1 : i + 1]])
        slope, intercept = np.polyfit(x, y, 1)
        assert r["slope"] == pytest.approx(slope, rel=1e-9, abs=1e-12)
        assert r["intercept"] == pytest.approx(intercept, rel=1e-9, abs=1e-9)
        assert r["mean7"] == pytest.approx(y.mean(), rel=1e-12)


def test_mutual_info_matches_bruteforce_and_is_nonnegative(spark, sf_dir):
    from go_web_mapreduce_spark.operators.text_analysis import (
        MI_DF_PPM,
        MI_LANGS,
        q_mutual_info,
    )

    docs = load_table(spark, sf_dir, "documents").select("text", "lang").collect()
    nn = len(docs)
    d_l = defaultdict(int)
    a = defaultdict(lambda: defaultdict(int))
    df = defaultdict(int)
    for r in docs:
        d_l[r["lang"]] += 1
        for w in {t for t in r["text"].lower().split(" ") if t}:
            a[w][r["lang"]] += 1
            df[w] += 1

    def term(n, row, col):
        return (n / nn) * math.log(nn * n / (row * col)) if n > 0 else 0.0

    expect = {}
    for w, n_w in df.items():
        if n_w * 1_000_000 < nn * MI_DF_PPM:
            continue
        mi = 0.0
        for lg in MI_LANGS:
            al = a[w].get(lg, 0)
            mi += term(al, n_w, d_l[lg])
            mi += term(d_l[lg] - al, nn - n_w, d_l[lg])
        expect[w] = (n_w, mi)

    got = q_mutual_info(spark, sf_dir).collect()
    assert {r["token"] for r in got} == set(expect)
    for r in got:
        n_w, mi = expect[r["token"]]
        assert r["df"] == n_w
        assert r["mi_nats"] == pytest.approx(mi, rel=1e-9, abs=1e-12)
        # MI of a true joint distribution is non-negative (Gibbs)
        assert r["mi_nats"] >= -1e-12


def test_embedding_outliers_matches_numpy(spark, sf_dir):
    import numpy as np

    from go_web_mapreduce_spark.operators.ml import OUTLIER_TOPK, q_embedding_outliers

    rows = load_table(spark, sf_dir, "embeddings").collect()
    by_label: dict = defaultdict(list)
    for r in rows:
        by_label[r["label"]].append((r["vec_id"], np.array(r["embedding"], dtype=np.float64)))

    expect = {}
    for lab, vecs in by_label.items():
        cent = np.mean([v for _, v in vecs], axis=0)
        scored = sorted(
            ((float(((v - cent) ** 2).sum()), vid) for vid, v in vecs),
            key=lambda t: (-t[0], t[1]),
        )
        expect[lab] = scored[:OUTLIER_TOPK]

    got = q_embedding_outliers(spark, sf_dir).collect()
    assert len(got) == sum(len(v) for v in expect.values())
    for r in got:
        d, vid = expect[r["label"]][r["rnk"] - 1]
        assert r["vec_id"] == vid
        # numpy mean/sum orders differ from the engines' exact-decimal
        # centroid + left-fold distance — agreement is approximate only
        assert r["sq_dist"] == pytest.approx(d, rel=1e-9)


def test_snm_edit_distance_is_subset_with_full_recall_on_base_corpus(spark, sf_dir):
    from go_web_mapreduce_spark.operators.dedup import (
        q_dedup_edit_distance,
        q_dedup_edit_distance_snm,
    )

    exact = {
        (r["doc_a"], r["doc_b"]): (r["dist"], r["sim_ppm"])
        for r in q_dedup_edit_distance(spark, sf_dir).collect()
    }
    snm = {
        (r["doc_a"], r["doc_b"]): (r["dist"], r["sim_ppm"])
        for r in q_dedup_edit_distance_snm(spark, sf_dir).collect()
    }
    # SNM candidates are a subset of the exact variant's (same block, same
    # band, window on top) — and on the base corpus the window loses nothing
    assert set(snm) <= set(exact)
    assert snm == exact


def test_attribution_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.temporal import (
        ATTR_CONV,
        ATTR_LOOKBACK_US,
        q_attribution,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "value", F.expr("ts_ns div 1000").alias("tu"))
        .collect()
    )
    by_user: dict = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["tu"], r["event_type"], r["value"]))
    agg: dict = defaultdict(lambda: [0, 0])  # (model, touch) -> [n, cents]
    for rows in by_user.values():
        rows.sort()
        for tu, et, val in rows:
            if et != ATTR_CONV:
                continue
            window = [
                t for t in rows
                if tu - ATTR_LOOKBACK_US <= t[0] <= tu - 1 and t[1] != ATTR_CONV
            ]
            ft = window[0][1] if window else "none"
            lt = window[-1][1] if window else "none"
            cents = round(val * 100)
            for model, touch in (("first_touch", ft), ("last_touch", lt)):
                a = agg[(model, touch)]
                a[0] += 1
                a[1] += cents
    got = q_attribution(spark, sf_dir).collect()
    assert {(r["model"], r["touch"]) for r in got} == set(agg)
    for r in got:
        n, cents = agg[(r["model"], r["touch"])]
        assert r["n_conv"] == n
        assert r["attributed_value"] == pytest.approx(cents / 100, abs=1e-9)


def test_rfm_segments_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.analytics import RFM_Q, q_rfm_segments

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "value", F.expr("ts_ns div 1000").alias("tu"))
        .collect()
    )
    users: dict = {}
    for r in ev:
        u = users.setdefault(r["user_id"], [0, 0, 0])  # last_us, n, cents
        u[0] = max(u[0], r["tu"])
        u[1] += 1
        if r["event_type"] == "purchase":
            u[2] += round(r["value"] * 100)

    def ntile(keys, q):
        n = len(keys)
        out = {}
        for i, (_, uid) in enumerate(sorted(keys)):
            # SQL ntile: first (n % q) tiles get ceil(n/q) rows
            big, rem = n // q + 1, n % q
            out[uid] = i // big + 1 if i < rem * big else (i - rem * big) // (n // q) + rem + 1
        return out

    r_q = ntile([((-last, uid), uid) for uid, (last, _, _) in users.items()], RFM_Q)
    f_q = ntile([((-n, uid), uid) for uid, (_, n, _) in users.items()], RFM_Q)
    m_q = ntile([((-c, uid), uid) for uid, (_, _, c) in users.items()], RFM_Q)
    agg: dict = defaultdict(lambda: [0, 0])
    for uid, (_, _, cents) in users.items():
        a = agg[(r_q[uid], f_q[uid], m_q[uid])]
        a[0] += 1
        a[1] += cents

    got = q_rfm_segments(spark, sf_dir).collect()
    assert {(r["r_q"], r["f_q"], r["m_q"]) for r in got} == set(agg)
    for r in got:
        n, cents = agg[(r["r_q"], r["f_q"], r["m_q"])]
        assert (r["n_users"], r["revenue_cents"]) == (n, cents)


def test_hll_overlap_estimates_track_exact_within_sketch_error(spark, sf_dir):
    from go_web_mapreduce_spark.operators.analytics import q_hll_overlap

    du = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    sets: dict = defaultdict(set)
    for r in du:
        sets[r["event_type"]].add(r["user_id"])

    got = q_hll_overlap(spark, sf_dir).collect()
    assert len(got) == len(sets) * (len(sets) - 1) // 2
    for r in got:
        a, b = sets[r["ta"]], sets[r["tb"]]
        assert r["exact_overlap"] == len(a & b)
        # m=4096 registers -> ~1.6% relative error on singles and unions
        assert r["est_a"] == pytest.approx(len(a), rel=0.10)
        assert r["est_b"] == pytest.approx(len(b), rel=0.10)
        assert r["est_union"] == pytest.approx(len(a | b), rel=0.10)
        # inclusion-exclusion amplifies error additively in the set sizes
        assert abs(r["est_overlap"] - len(a & b)) <= 0.10 * len(a | b) + 5
        assert r["jaccard_est"] == r["est_overlap"] / r["est_union"]


def test_quantile_norm_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.analytics import q_quantile_norm

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .collect()
    )
    corpus = sorted((r["n_chars"], r["doc_id"]) for r in rows)
    vals = [v for v, _ in corpus]
    nn = len(vals)
    by_src: dict = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append((r["n_chars"], r["doc_id"]))
    expect = {}
    for src, lst in by_src.items():
        ns = len(lst)
        if ns <= 1:
            continue
        lst.sort()
        norm = [vals[((r - 1) * (nn - 1)) // (ns - 1)] for r in range(1, ns + 1)]
        orig = [v for v, _ in lst]
        shifts = [abs(n - o) for n, o in zip(norm, orig)]
        expect[src] = (ns, sum(orig), sum(norm), sum(shifts), max(shifts))

    got = {r["source"]: r for r in q_quantile_norm(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for src, (ns, so, sn, ts, ms) in expect.items():
        g = got[src]
        assert (g["n_docs"], g["sum_orig"], g["sum_norm"], g["total_shift"], g["max_shift"]) == (ns, so, sn, ts, ms)
    # quantile-normalized distributions all draw from corpus values:
    # a source identical to the corpus profile would shift by 0


def test_gdpr_erasure_matches_pure_python_cascade(spark, sf_dir):
    import hashlib as _hl

    from go_web_mapreduce_spark.operators.pipeline_ops import (
        ERASE_PCT_BUCKET,
        q_gdpr_erasure,
    )

    cust = [r["c_custkey"] for r in load_table(spark, sf_dir, "customer").select("c_custkey").collect()]
    victims = {
        c for c in cust
        if int(_hl.md5(f"erase:{c}".encode()).hexdigest()[:6], 16) % 1000 < ERASE_PCT_BUCKET
    }
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").collect()
    vorders = {r["o_orderkey"] for r in orders if r["o_custkey"] in victims}
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()
    n_li = sum(1 for r in li if r["l_orderkey"] in vorders)
    ev = load_table(spark, sf_dir, "events").select("user_id").collect()
    n_ev = sum(1 for r in ev if r["user_id"] in victims)

    got = q_gdpr_erasure(spark, sf_dir).collect()
    assert len(got) == 1
    g = got[0]
    assert g["n_users"] == len(victims)
    assert g["n_orders"] == len(vorders)
    assert g["n_lineitems"] == n_li
    assert g["n_events"] == n_ev
    assert g["customers_kept"] == len(cust) - len(victims)
    assert g["orders_kept"] == len(orders) - len(vorders)


def test_data_contract_all_checks_pass_on_clean_fixture(spark, sf_dir):
    from go_web_mapreduce_spark.operators.pipeline_ops import (
        CONTRACT_CHECKS,
        q_data_contract,
    )

    got = q_data_contract(spark, sf_dir).collect()
    assert len(got) == len(CONTRACT_CHECKS)
    # the driver fixture satisfies its own contract — every check green,
    # and n_rows is consistent per table
    for r in got:
        assert r["pass"] == 1 and r["n_violations"] == 0, r
    by_table = defaultdict(set)
    for r in got:
        by_table[r["tbl"]].add(r["n_rows"])
    assert all(len(v) == 1 for v in by_table.values())


def test_data_contract_catches_planted_violations(spark, sf_dir):
    # same predicates over a tampered in-memory table: violations surface
    from go_web_mapreduce_spark.operators.pipeline_ops import CONTRACT_CHECKS

    rows = [
        (1, "good text", "en", "src0", 9),
        (2, "", "en", "src0", 0),            # not_empty
        (3, "xx", "tlh", "src1", 2),         # enum_member (Klingon)
        (4, "abc", "de", "src1", 99),        # consistent_with_text
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    from pyspark.sql import functions as SF

    # doc2 violates not_empty and in_range (n_chars=0 < 1); doc3 violates
    # enum_member; doc4 violates consistent_with_text (len('abc')=3 != 99)
    expect = {"not_null": 0, "not_empty": 1, "enum_member": 1,
              "in_range": 1, "consistent_with_text": 1}
    for table, col, check, pred in CONTRACT_CHECKS:
        if table != "documents":
            continue
        n = df.where(SF.expr(pred)).count()
        assert n == expect[check], (check, n)


def test_psi_drift_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.analytics import (
        PSI_BINS,
        PSI_SPLIT,
        q_psi_drift,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value", "event_id",
                F.expr(f"ts < TIMESTAMP '{PSI_SPLIT}'").alias("is_ref"))
        .collect()
    )
    by_type: dict = defaultdict(lambda: ([], []))
    for r in ev:
        by_type[r["event_type"]][0 if r["is_ref"] else 1].append(
            (r["value"], r["event_id"])
        )
    got = {r["event_type"]: r for r in q_psi_drift(spark, sf_dir).collect()}
    assert set(got) == set(by_type)
    for et, (ref, cur) in by_type.items():
        ref.sort()
        n = len(ref)
        edges = [ref[(i * n + 9) // 10 - 1][0] for i in range(1, PSI_BINS)]

        def bin_of(v):
            return 1 + sum(1 for e in edges if v > e)

        rc = [0] * (PSI_BINS + 1)
        cc = [0] * (PSI_BINS + 1)
        for v, _ in ref:
            rc[bin_of(v)] += 1
        for v, _ in cur:
            cc[bin_of(v)] += 1
        psi = 0.0
        for b in range(1, PSI_BINS + 1):
            p = (rc[b] + 1) / (n + PSI_BINS)
            q = (cc[b] + 1) / (len(cur) + PSI_BINS)
            psi += (p - q) * math.log(p / q)
        g = got[et]
        assert (g["n_ref"], g["n_cur"]) == (n, len(cur))
        assert g["psi"] == pytest.approx(psi, rel=1e-9, abs=1e-12)
        assert g["drift"] == (1 if psi > 0.2 else 0)


def test_sequence_pairs_matches_pure_python_replay(spark, sf_dir):
    from go_web_mapreduce_spark.operators.temporal import (
        SESSION_GAP_US,
        q_sequence_pairs,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", F.expr("ts_ns div 1000").alias("us"))
        .collect()
    )
    by_user: dict = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["us"], r["event_id"], r["event_type"]))
    sessions = []
    for rows in by_user.values():
        rows.sort()
        cur = []
        last = None
        for us, eid, et in rows:
            if last is not None and us - last > SESSION_GAP_US:
                sessions.append(cur)
                cur = []
            cur.append((us, eid, et))
            last = us
        sessions.append(cur)
    total = len(sessions)
    occ: dict = defaultdict(int)
    pair: dict = defaultdict(int)
    for s in sessions:
        first: dict = {}
        for us, eid, et in s:
            if et not in first:
                first[et] = (us, eid)
        for a in first:
            occ[a] += 1
        for a in first:
            for b in first:
                if a != b and first[a] < first[b]:
                    pair[(a, b)] += 1

    got = q_sequence_pairs(spark, sf_dir).collect()
    assert {(r["a"], r["b"]) for r in got} == set(pair)
    for r in got:
        n = pair[(r["a"], r["b"])]
        assert r["n_sessions"] == n
        assert r["support_ppm"] == n * 1_000_000 // total
        assert r["confidence_ppm"] == n * 1_000_000 // occ[r["a"]]


def test_class_balance_is_exactly_min_class_and_deterministic(spark, sf_dir):
    from go_web_mapreduce_spark.operators.pipeline_ops import q_class_balance

    counts = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_min = min(counts.values())
    got = {r["lang"]: r for r in q_class_balance(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for lang, r in got.items():
        assert r["n_total"] == counts[lang]
        assert r["n_kept"] == n_min
        assert r["n_dropped"] == counts[lang] - n_min
    # determinism: a second run keeps the identical char sums
    again = {r["lang"]: r["kept_chars"] for r in q_class_balance(spark, sf_dir).collect()}
    assert again == {lang: r["kept_chars"] for lang, r in got.items()}


def test_graph_sssp_matches_pure_python_bellman_ford(spark, sf_dir):
    from go_web_mapreduce_spark.operators.graph import (
        PR_YEAR,
        SSSP_HOPS,
        SSSP_SCALE,
        SSSP_TOPK,
        q_graph_sssp,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= f"{PR_YEAR}-01-01")
            & (F.col("l_shipdate") < f"{PR_YEAR + 1}-01-01")
        )
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    by_order: dict = defaultdict(set)
    for r in li:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    wt: dict = defaultdict(set)
    for ok, parts in by_order.items():
        for a, b in combinations(sorted(parts), 2):
            wt[(a, b)].add(ok)
            wt[(b, a)].add(ok)
    edges = {k: SSSP_SCALE // len(v) for k, v in wt.items()}
    seed = min(a for a, _ in edges)
    dist = {seed: 0}
    for _ in range(SSSP_HOPS):
        nxt = dict(dist)
        for (a, b), ln in edges.items():
            if a in dist and dist[a] + ln < nxt.get(b, float("inf")):
                nxt[b] = dist[a] + ln
        dist = nxt
    expect = sorted((d, n) for n, d in dist.items())[:SSSP_TOPK]

    got = q_graph_sssp(spark, sf_dir).collect()
    assert [(r["dist"], r["node"]) for r in got] == expect
    assert got[0]["node"] == seed and got[0]["dist"] == 0
