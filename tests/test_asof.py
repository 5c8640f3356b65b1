"""Temporal operators against brute-force or numpy references: Markov
transitions, trend and change-point tests, survival, lift, autocorrelation,
Theil-Sen and seasonal profiles."""

from __future__ import annotations


def test_markov_transitions_matches_bruteforce(spark, sf_dir):
    """Transition counts/probabilities must equal a local replay of the
    same 30-min sessionization and pairing; each from-row must sum to 1."""
    from collections import Counter, defaultdict

    from go_web_mapreduce_spark.operators.temporal import (
        SESSION_GAP_US,
        q_markov_transitions,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "event_type", "ts_ns div 1000 as us"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["us"], r["event_id"], r["event_type"]))
    cnt = Counter()
    for rows in by_user.values():
        rows.sort()
        prev_us = None
        session: list[str] = []
        sessions = []
        for us, _, et in rows:
            if prev_us is None or us - prev_us > SESSION_GAP_US:
                session = []
                sessions.append(session)
            session.append(et)
            prev_us = us
        for s in sessions:
            for a, b in zip(s, s[1:]):
                cnt[(a, b)] += 1
    got = {(r["from_type"], r["to_type"]): r for r in q_markov_transitions(spark, sf_dir).collect()}
    assert set(got) == set(cnt) and len(got) > 0
    from_tot = Counter()
    for (a, _), n in cnt.items():
        from_tot[a] += n
    row_sum = defaultdict(float)
    for key, n in cnt.items():
        g = got[key]
        assert g["n"] == n
        assert abs(g["p"] - n / from_tot[key[0]]) < 1e-12
        row_sum[key[0]] += g["p"]
    for s in row_sum.values():
        assert abs(s - 1.0) < 1e-9


def test_trend_mk_matches_bruteforce(spark, sf_dir):
    """S, tie-corrected variance, and z per event type must equal a local
    replay of the textbook Mann-Kendall computation on daily counts."""
    import math
    from collections import Counter

    from go_web_mapreduce_spark.operators.temporal import MK_Z_CRIT, q_trend_mk
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "date_trunc('day', ts) as day"
    ).collect()
    daily = Counter((r["event_type"], r["day"]) for r in ev)
    by_type: dict[str, list[tuple]] = {}
    for (et, day), x in daily.items():
        by_type.setdefault(et, []).append((day, x))
    got = {r["event_type"]: r for r in q_trend_mk(spark, sf_dir).collect()}
    assert set(got) == set(by_type)
    for et, series in by_type.items():
        series.sort()
        xs = [x for _, x in series]
        n = len(xs)
        s = sum(
            (xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(xs).values()
        )
        var_s = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        z = (
            (s - 1) / math.sqrt(var_s)
            if s > 0
            else (s + 1) / math.sqrt(var_s) if s < 0 else 0.0
        )
        g = got[et]
        assert g["n_days"] == n
        assert g["s_stat"] == s
        assert abs(g["var_s"] - var_s) < 1e-9
        assert abs(g["z"] - z) < 1e-9
        assert g["trending"] == (abs(z) > MK_Z_CRIT)


def test_cusum_changepoint_matches_bruteforce(spark, sf_dir):
    """The peak |cumulative deviation|, its day, and the normalized stat
    must equal a local replay on the same daily series."""
    import math
    from collections import Counter

    from go_web_mapreduce_spark.operators.temporal import (
        CUSUM_CRIT,
        q_cusum_changepoint,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "date_trunc('day', ts) as day"
    ).collect()
    daily = Counter((r["event_type"], r["day"]) for r in ev)
    by_type: dict[str, list[tuple]] = {}
    for (et, day), x in daily.items():
        by_type.setdefault(et, []).append((day, x))
    got = {r["event_type"]: r for r in q_cusum_changepoint(spark, sf_dir).collect()}
    assert set(got) == set(by_type)
    for et, series in by_type.items():
        series.sort()
        xs = [x for _, x in series]
        n = len(xs)
        m = sum(xs) / n
        sd = math.sqrt(sum(x * x for x in xs) / n - m * m)
        s = 0.0
        best = (-1.0, None)
        for day, x in series:
            # decimal(18,6) quantization of each term, like the engine
            s += round(x - m, 6)
            if abs(s) > best[0] + 1e-12:
                best = (abs(s), day)
        g = got[et]
        assert g["n_days"] == n
        assert g["cp_day"] == best[1].strftime("%Y-%m-%d")
        assert abs(g["cusum_max"] - best[0]) < 1e-6
        stat = best[0] / (sd * math.sqrt(n))
        assert abs(g["stat"] - stat) < 1e-6
        assert g["shifted"] == (stat > CUSUM_CRIT)


def test_kaplan_meier_matches_lifelines_style_reference(spark, sf_dir):
    """Risk sets, event/censor counts, and the product-limit curve must
    equal a local replay of the textbook KM estimator; survival must be
    monotone non-increasing starting at <= 1."""
    import math
    from collections import defaultdict

    from go_web_mapreduce_spark.operators.temporal import (
        KM_CENSOR_DAYS,
        q_kaplan_meier,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "ts_ns div 1000 as us"
    ).collect()
    span = defaultdict(lambda: [None, None])
    for r in ev:
        s = span[r["user_id"]]
        s[0] = r["us"] if s[0] is None else min(s[0], r["us"])
        s[1] = r["us"] if s[1] is None else max(s[1], r["us"])
    window_end = max(s[1] for s in span.values())
    lives = [
        (
            (last - first) // 86400000000,
            1 if last < window_end - KM_CENSOR_DAYS * 86400000000 else 0,
        )
        for first, last in span.values()
    ]
    steps = defaultdict(lambda: [0, 0])
    for t, died in lives:
        steps[t][0] += died
        steps[t][1] += 1 - died
    got = {r["t_days"]: r for r in q_kaplan_meier(spark, sf_dir).collect()}
    assert set(got) == set(steps)
    at_risk = len(lives)
    s = 1.0
    prev_s = 1.0 + 1e-15
    for t in sorted(steps):
        d, c = steps[t]
        g = got[t]
        assert g["n_risk"] == at_risk
        assert g["n_events"] == d and g["n_censored"] == c
        if d >= at_risk:
            s = 0.0
        elif d > 0:
            # mirror the engine's decimal(18,12) quantization per step
            s_log = math.log(s) if s > 0 else float("-inf")
            s = math.exp(
                sum(
                    round(math.log(1 - dd / nn), 12)
                    for dd, nn in _km_steps_upto(steps, t, len(lives))
                )
            )
        assert abs(g["survival"] - s) < 1e-9, (t, g["survival"], s)
        assert g["survival"] <= prev_s + 1e-12
        prev_s = g["survival"]
        at_risk -= d + c


def _km_steps_upto(steps, t_max, n_total):
    at_risk = n_total
    out = []
    for t in sorted(steps):
        if t > t_max:
            break
        d, c = steps[t]
        if 0 < d < at_risk:
            out.append((d, at_risk))
        at_risk -= d + c
    return out


def test_lift_association_matches_bruteforce(spark, sf_dir):
    """Pair supports/confidences/lifts must equal a local basket census of
    the same sessionization; lift symmetry: lift(a,b) is order-free."""
    from collections import Counter, defaultdict

    from go_web_mapreduce_spark.operators.temporal import (
        SESSION_GAP_US,
        q_lift_association,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "event_type", "ts_ns div 1000 as us"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["us"], r["event_id"], r["event_type"]))
    baskets = []
    for rows in by_user.values():
        rows.sort()
        prev = None
        cur: set = set()
        for us, _, et in rows:
            if prev is None or us - prev > SESSION_GAP_US:
                cur = set()
                baskets.append(cur)
            cur.add(et)
            prev = us
    n = len(baskets)
    item = Counter(t for b in baskets for t in b)
    pair = Counter()
    for b in baskets:
        ts = sorted(b)
        for i, x in enumerate(ts):
            for y in ts[i + 1:]:
                pair[(x, y)] += 1
    got = {(r["ante"], r["cons"]): r for r in q_lift_association(spark, sf_dir).collect()}
    assert set(got) == set(pair) and len(got) > 0
    for (x, y), cp in pair.items():
        g = got[(x, y)]
        assert g["n_sessions"] == cp
        assert abs(g["support"] - cp / n) < 1e-12
        assert abs(g["confidence"] - cp / item[x]) < 1e-12
        assert abs(g["lift"] - cp * n / (item[x] * item[y])) < 1e-9


def test_autocorrelation_matches_numpy(spark, sf_dir):
    """ACF per (type, lag) must equal the textbook biased estimator
    computed locally; lag-0 would be 1 by construction (denominator is
    the same sum), and every |acf| <= 1 + eps."""
    from collections import Counter

    import numpy as np

    from go_web_mapreduce_spark.operators.temporal import (
        ACF_MAX_LAG,
        q_autocorrelation,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "date_trunc('day', ts) as day"
    ).collect()
    daily = Counter((r["event_type"], r["day"]) for r in ev)
    by_type: dict[str, list] = {}
    for (et, day), x in daily.items():
        by_type.setdefault(et, []).append((day, x))
    got = {(r["event_type"], r["lag"]): r for r in q_autocorrelation(spark, sf_dir).collect()}
    for et, series in by_type.items():
        series.sort()
        x = np.array([v for _, v in series], dtype=np.float64)
        n = len(x)
        d = x - x.mean()
        var = float((d * d).sum())
        for lag in range(1, ACF_MAX_LAG + 1):
            if lag >= n:
                assert (et, lag) not in got
                continue
            acf = float((d[:-lag] * d[lag:]).sum()) / var
            g = got[(et, lag)]
            assert g["n_days"] == n
            assert abs(g["acf"] - acf) < 1e-6
            assert abs(g["acf"]) <= 1 + 1e-9
            assert g["significant"] == (abs(acf) > 1.96 / np.sqrt(n))


def test_theil_sen_matches_numpy_reference(spark, sf_dir):
    """The slope must equal the median of all pairwise slopes computed
    locally (statistics.median semantics: mean of two middles at even n)."""
    import statistics
    from collections import Counter

    from go_web_mapreduce_spark.operators.temporal import q_theil_sen
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "date_trunc('day', ts) as day"
    ).collect()
    daily = Counter((r["event_type"], r["day"]) for r in ev)
    by_type: dict[str, list] = {}
    for (et, day), x in daily.items():
        by_type.setdefault(et, []).append((day, x))
    got = {r["event_type"]: r for r in q_theil_sen(spark, sf_dir).collect()}
    assert set(got) == set(by_type)
    for et, series in by_type.items():
        series.sort()
        xs = [x for _, x in series]
        slopes = [
            (xs[j] - xs[i]) / (j - i)
            for i in range(len(xs))
            for j in range(i + 1, len(xs))
        ]
        g = got[et]
        assert g["n_pairs"] == len(slopes)
        assert abs(g["slope"] - statistics.median(slopes)) < 1e-12


def test_seasonal_profile_matches_bruteforce(spark, sf_dir):
    """Weekday means, seasonal components, and the STL-style strength must
    equal a local replay; components sum to ~0 weighted by day counts and
    strength lies in [0, 1]."""
    from collections import Counter, defaultdict

    from go_web_mapreduce_spark.operators.temporal import q_seasonal_profile
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "date_trunc('day', ts) as day"
    ).collect()
    daily = Counter((r["event_type"], r["day"]) for r in ev)
    by_type: dict[str, list] = defaultdict(list)
    for (et, day), x in daily.items():
        by_type[et].append((day.isoweekday(), x))
    got = defaultdict(dict)
    for r in q_seasonal_profile(spark, sf_dir).collect():
        got[r["event_type"]][r["dow"]] = r
    assert set(got) == set(by_type)
    for et, rows in by_type.items():
        xs = [x for _, x in rows]
        n = len(xs)
        g_mean = sum(xs) / n
        g_var = sum(x * x for x in xs) / n - g_mean**2
        by_dw = defaultdict(list)
        for dw, x in rows:
            by_dw[dw].append(x)
        assert set(got[et]) == set(by_dw)
        resid = 0.0
        for dw, vals in by_dw.items():
            m = sum(vals) / len(vals)
            resid += sum((x - m) ** 2 for x in vals)
        resid /= n
        strength = 1.0 - resid / g_var
        wsum = 0.0
        for dw, vals in by_dw.items():
            m = sum(vals) / len(vals)
            g = got[et][dw]
            assert g["n_days"] == len(vals)
            assert abs(g["dow_mean"] - m) < 1e-9
            assert abs(g["seasonal_component"] - (m - g_mean)) < 1e-9
            assert abs(g["seasonal_strength"] - strength) < 1e-6
            assert -1e-9 <= g["seasonal_strength"] <= 1.0 + 1e-9
            wsum += g["seasonal_component"] * len(vals)
        assert abs(wsum) < 1e-6
