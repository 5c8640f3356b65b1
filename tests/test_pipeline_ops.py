"""Semantic tests for the pipeline operators (operators/pipeline_ops.py):
properties the DuckDB parity check can't see — determinism across runs,
sampling-law invariants, interval chaining, Morton-code bit math, and the
plan shapes (broadcast dims, single exchange) the 100 TB story relies on.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from go_web_mapreduce_spark import plans as P
from go_web_mapreduce_spark.operators.pipeline_ops import (
    CHUNK_STRIDE,
    RESERVOIR_K,
    STRATA_PCT,
    _morton16,
    q_chunk_documents,
    q_pii_redact,
    q_repetition_filter,
    q_reservoir_per_key,
    q_scd2,
    q_stratified_sample,
    q_train_test_split,
    q_zorder_cluster,
)
from go_web_mapreduce_spark.sources.tables import load_table


def test_split_is_total_and_deterministic(spark, sf_dir):
    """Every document lands in exactly one split, and two independent runs
    produce identical assignments (content-addressed, no RNG state)."""
    a = {(r["source"], r["split"]): r["n"] for r in q_train_test_split(spark, sf_dir).collect()}
    b = {(r["source"], r["split"]): r["n"] for r in q_train_test_split(spark, sf_dir).collect()}
    assert a == b
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(a.values()) == n_docs
    by_split = {}
    for (_, s), n in a.items():
        by_split[s] = by_split.get(s, 0) + n
    # 80/10/10 within loose binomial bounds at 500 docs
    assert 0.6 < by_split["train"] / n_docs < 0.95
    assert by_split.get("valid", 0) > 0 and by_split.get("test", 0) > 0


def test_stratified_rates_track_targets(spark, sf_dir):
    rows = {r["lang"]: r for r in q_stratified_sample(spark, sf_dir).collect()}
    assert set(rows) == set(STRATA_PCT)
    for lang, r in rows.items():
        assert 0 <= r["n_sampled"] <= r["n_total"]
        # binomial(n≈100, p) stays within ±4σ of the target rate
        p = STRATA_PCT[lang] / 100
        sigma = math.sqrt(p * (1 - p) / r["n_total"])
        assert abs(r["n_sampled"] / r["n_total"] - p) < 4 * sigma + 1e-9


def test_reservoir_k_per_key(spark, sf_dir):
    rows = q_reservoir_per_key(spark, sf_dir).collect()
    per_lang: dict[str, list[int]] = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r["rk"])
    for rks in per_lang.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= RESERVOIR_K
    again = q_reservoir_per_key(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pii_redaction_counts(spark, sf_dir):
    rows = q_pii_redact(spark, sf_dir).collect()
    n_customers = sum(r["n_customers"] for r in rows)
    assert n_customers == load_table(spark, sf_dir, "customer").count()
    # each synthesized card carries exactly one email and ≥1 long digit run
    assert sum(r["n_emails"] for r in rows) == n_customers
    assert sum(r["n_num_runs"] for r in rows) >= n_customers
    assert all(r["chars_removed"] > 0 for r in rows)


def test_pii_redact_broadcasts_nation(spark, sf_dir):
    plan = P.executed_plan(q_pii_redact(spark, sf_dir))
    assert P.has_broadcast_join(plan)


def test_repetition_filter_bounds(spark, sf_dir):
    rows = q_repetition_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert 0 <= r["sum_dup_ppm"] <= 1_000_000 * r["n_docs"]


def test_chunking_covers_every_document(spark, sf_dir):
    chunks = q_chunk_documents(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    from go_web_mapreduce_spark.functions.text import token_count

    want = {
        r["doc_id"]: math.ceil(r["n"] / CHUNK_STRIDE)
        for r in docs.select("doc_id", token_count("text").alias("n")).collect()
        if r["n"] > 0
    }
    got: dict[int, int] = {}
    for r in chunks.collect():
        got[r["doc_id"]] = got.get(r["doc_id"], 0) + 1
        assert 1 <= r["n_tokens"] <= 32
    assert got == want


def test_chunking_is_shuffle_free(spark, sf_dir):
    plan = P.executed_plan(q_chunk_documents(spark, sf_dir))
    assert P.count_exchanges(plan) == 0


def test_scd2_intervals_chain(spark, sf_dir):
    rows = q_scd2(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from_us"])
        currents = [r for r in ivs if r["is_current"] == 1]
        assert len(currents) == 1 and currents[0] is ivs[-1]
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]  # gap-free chain
            assert a["event_type"] != b["event_type"]  # real changes only
        assert ivs[-1]["valid_to_us"] is None


def test_scd2_single_exchange(spark, sf_dir):
    """Both window passes key on user_id — Catalyst must reuse one shuffle."""
    plan = P.executed_plan(q_scd2(spark, sf_dir))
    assert P.count_exchanges(plan, "hashpartitioning") == 1


def test_morton_interleave_matches_reference_bits(spark):
    """The generated SQL computes the textbook bit interleave."""

    def py_morton(x: int, y: int) -> int:
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (255, 0), (0, 255), (255, 255), (3, 5), (170, 85), (200, 13)]
    sql = ", ".join(
        _morton16(str(x), str(y)) + f" AS z{i}" for i, (x, y) in enumerate(cases)
    )
    row = spark.sql(f"SELECT {sql}").collect()[0]
    for i, (x, y) in enumerate(cases):
        assert row[f"z{i}"] == py_morton(x, y)


def test_zorder_cells_bounded(spark, sf_dir):
    rows = q_zorder_cluster(spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r["z_min"] <= r["z_max"] < 65536
        assert r["zcell"] == r["z_min"] // 1024 == r["z_max"] // 1024
        assert r["n"] > 0


def test_weighted_sample_matches_pure_python_aes(spark, sf_dir):
    """Independent-implementation parity: the Spark selection must equal a
    pure-Python Efraimidis-Spirakis replay (md5 uniform, math.log, same
    tie-break) — no shared code beyond the md5 spec."""
    import hashlib
    import math

    from go_web_mapreduce_spark.operators.pipeline_ops import (
        WEIGHTED_K,
        q_weighted_sample,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    got = {r["doc_id"] for r in q_weighted_sample(spark, sf_dir).collect()}

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    )
    keyed = []
    for r in rows:
        if r["n_chars"] <= 0:
            continue
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:13], 16)
        u = (h + 1) / 4503599627370497.0
        keyed.append((math.log(u) / float(r["n_chars"]), -r["doc_id"], r["doc_id"]))
    keyed.sort(reverse=True)
    want = {doc_id for _, _, doc_id in keyed[:WEIGHTED_K]}
    assert got == want


def test_weighted_sample_scale_invariant_and_salted(spark, sf_dir):
    """A-ES law: multiplying every weight by a constant must not change the
    selection (u^(1/cw) is a monotone transform of u^(1/w)); changing the
    salt must (the uniforms actually drive the draw)."""
    from pyspark.sql import functions as F

    from go_web_mapreduce_spark.operators.pipeline_ops import weighted_sample
    from go_web_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("weight")
    )
    base = {r["doc_id"] for r in weighted_sample(docs, "weight").collect()}
    scaled = {
        r["doc_id"]
        for r in weighted_sample(
            docs.withColumn("weight", F.col("weight") * 17), "weight"
        ).collect()
    }
    assert base == scaled and len(base) > 0

    other = {
        r["doc_id"] for r in weighted_sample(docs, "weight", salt="s1").collect()
    }
    assert other != base


def test_dsir_weights_semantics_and_plan(spark, sf_dir):
    """DSIR log-weights: target-language docs must score higher on average
    than the rest (the whole point of importance reweighting — their grams
    dominate the target distribution), empty-gram docs come back with
    weight exactly 0, every document survives the left join, and the
    log-ratio table joins back as a broadcast (nothing but integer triples
    shuffles — the 100 TB plan shape)."""
    from go_web_mapreduce_spark.operators.pipeline_ops import (
        DSIR_TARGET_LANG,
        q_dsir_weights,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    df = q_dsir_weights(spark, sf_dir)
    rows = df.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    tgt = [r["logw"] for r in rows if r["lang"] == DSIR_TARGET_LANG]
    rest = [r["logw"] for r in rows if r["lang"] != DSIR_TARGET_LANG]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)
    for r in rows:
        if r["n_grams"] == 0:
            assert r["logw"] == 0.0
    plan = P.executed_plan(df)
    assert P.has_broadcast_join(plan)


def test_kanonymity_matches_bruteforce(spark, sf_dir):
    """Per-nation k-anonymity metrics must equal a local brute-force census
    of the same quasi-identifier classes."""
    import math
    from collections import Counter

    from go_web_mapreduce_spark.operators.pipeline_ops import (
        KANON_BAND,
        KANON_K,
        q_kanonymity,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).collect()
    classes = Counter(
        (r["c_nationkey"], r["c_mktsegment"], math.floor(float(r["c_acctbal"]) / KANON_BAND))
        for r in rows
    )
    got = {r["c_nationkey"]: r for r in q_kanonymity(spark, sf_dir).collect()}
    nations = {q[0] for q in classes}
    assert set(got) == nations
    for n in nations:
        ks = [k for q, k in classes.items() if q[0] == n]
        risky = [k for k in ks if k < KANON_K]
        assert got[n]["n_classes"] == len(ks)
        assert got[n]["min_k"] == min(ks)
        assert got[n]["risky_classes"] == len(risky)
        assert got[n]["risky_rows"] == sum(risky)
        assert abs(got[n]["suppression_rate"] - sum(risky) / sum(ks)) < 1e-12


def test_ks_drift_matches_scipy_style_bruteforce(spark, sf_dir):
    """Per-source D must equal a local exact two-sample KS computed over
    the pooled grid (the scipy ks_2samp 'exact D' definition), and the
    significance columns must follow from D deterministically."""
    import math
    from collections import Counter

    from go_web_mapreduce_spark.operators.pipeline_ops import KS_ALPHA, q_ks_drift
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars"
    ).collect()
    by_src: dict[str, list[int]] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["n_chars"])
    n = len(rows)
    got = {r["source"]: r for r in q_ks_drift(spark, sf_dir).collect()}
    assert set(got) == set(by_src)
    grid = sorted({v for vs in by_src.values() for v in vs})
    for src, vs in by_src.items():
        rest = [v for s, vv in by_src.items() if s != src for v in vv]
        c1, c2 = Counter(vs), Counter(rest)
        cs = cg = 0
        d = 0.0
        for v in grid:
            cs += c1[v]
            cg += c2[v]
            d = max(d, abs(cs / len(vs) - cg / len(rest)))
        g = got[src]
        assert g["n_source"] == len(vs)
        assert abs(g["d_stat"] - d) < 1e-12
        lam = d * math.sqrt(len(vs) * len(rest) / n)
        assert abs(g["ks_lambda"] - lam) < 1e-9
        assert abs(g["p_approx"] - 2.0 * math.exp(-2.0 * lam * lam)) < 1e-9
        assert g["drifted"] == (2.0 * math.exp(-2.0 * lam * lam) < KS_ALPHA)


def test_negative_sampling_complete_and_distributed_correctly(spark, sf_dir):
    """Every (doc, draw) slot must produce exactly one negative, the same
    one on re-run (RNG-free), and the empirical draw distribution must
    track unigram^0.75 (correlation > 0.9 against expected counts)."""
    from collections import Counter

    import numpy as np

    from go_web_mapreduce_spark.operators.pipeline_ops import (
        NEG_N,
        q_negative_sampling,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    got = q_negative_sampling(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    assert len(got) == n_docs * NEG_N
    assert len({(r["doc_id"], r["draw"]) for r in got}) == len(got)
    again = q_negative_sampling(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # distribution: expected counts proportional to c^0.75
    texts = [r["text"] for r in docs.select("text").collect()]
    cnt = Counter(t for x in texts for t in x.lower().split() if t)
    toks = sorted(cnt)
    wts = np.array([cnt[t] ** 0.75 for t in toks])
    exp = wts / wts.sum() * len(got)
    drawn = Counter(r["neg_token"] for r in got)
    obs = np.array([drawn.get(t, 0) for t in toks], dtype=np.float64)
    assert set(drawn) <= set(toks)
    # per-token counts are Poisson-noisy at this draw budget; compare mass
    # in 5 equal-expected-mass bins instead (3 sigma ~ 15% per bin)
    order = np.argsort(-exp)
    cum = np.cumsum(exp[order])
    bin_of = np.minimum((cum / cum[-1] * 5).astype(int), 4)
    for b in range(5):
        sel = order[bin_of == b]
        assert abs(obs[sel].sum() - exp[sel].sum()) < 0.25 * exp[sel].sum(), (
            b, obs[sel].sum(), exp[sel].sum())


def test_js_divergence_matches_bruteforce(spark, sf_dir):
    """Per-source JS vs corpus must equal a full local computation over the
    COMPLETE vocabulary (including tokens the source lacks) — proving the
    algebraic fold of absent-token mass — and sit in [0, ln 2]."""
    import math
    from collections import Counter

    from go_web_mapreduce_spark.operators.pipeline_ops import q_js_divergence
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    per_src: dict[str, Counter] = {}
    corpus = Counter()
    for r in rows:
        tk = [t for t in r["text"].lower().split() if t]
        per_src.setdefault(r["source"], Counter()).update(tk)
        corpus.update(tk)
    t = sum(corpus.values())
    got = {r["source"]: r for r in q_js_divergence(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        ts = sum(cnt.values())
        js = 0.0
        for tok, g in corpus.items():  # full vocabulary, p may be 0
            p = cnt.get(tok, 0) / ts
            q = g / t
            m = (p + q) / 2
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            js += 0.5 * q * math.log(q / m)
        g = got[src]
        assert abs(g["js"] - js) < 1e-9
        assert abs(g["js_norm"] - js / math.log(2)) < 1e-9
        assert 0.0 <= g["js"] <= math.log(2) + 1e-12
        assert g["n_shared_tokens"] == len(cnt)


def test_cross_entropy_matches_bruteforce(spark, sf_dir):
    """Per-source cross-entropy under the Laplace-smoothed corpus unigram
    LM must equal a local replay, perplexity = exp(H), and every source's
    H must be >= the corpus self-entropy minus smoothing slack (Gibbs)."""
    import math
    from collections import Counter

    from go_web_mapreduce_spark.operators.pipeline_ops import (
        XENT_ALPHA,
        q_cross_entropy,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    per_src: dict[str, Counter] = {}
    corpus = Counter()
    for r in rows:
        tk = [t for t in r["text"].lower().split() if t]
        per_src.setdefault(r["source"], Counter()).update(tk)
        corpus.update(tk)
    t = sum(corpus.values())
    v = len(corpus)
    got = {r["source"]: r for r in q_cross_entropy(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        n = sum(cnt.values())
        h = -sum(
            c * math.log((corpus[tok] + XENT_ALPHA) / (t + XENT_ALPHA * v))
            for tok, c in cnt.items()
        ) / n
        g = got[src]
        assert g["n_tokens"] == n
        assert abs(g["cross_entropy"] - h) < 1e-9
        assert abs(g["perplexity"] - math.exp(h)) < 1e-6 * math.exp(h)
        assert g["cross_entropy"] > 0


def test_group_split_no_user_straddles_splits(spark, sf_dir):
    """The leakage property itself: recompute the per-event split locally
    and assert every user's events share one split; totals conserve; the
    80/10/10 targets hold within binomial bounds at 1000 users."""
    import hashlib
    import math
    from collections import defaultdict

    from go_web_mapreduce_spark.operators.pipeline_ops import (
        GROUP_SPLIT_MOD,
        GROUP_SPLIT_TRAIN,
        GROUP_SPLIT_VALID,
        q_group_split,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id").collect()
    users = {r["user_id"] for r in ev}
    split_of = {}
    for u in users:
        b = int(hashlib.md5(f"gs:{u}".encode()).hexdigest()[:4], 16) % GROUP_SPLIT_MOD
        split_of[u] = (
            "train" if b < GROUP_SPLIT_TRAIN
            else "valid" if b < GROUP_SPLIT_VALID else "test"
        )
    want_users = defaultdict(set)
    want_events = defaultdict(int)
    for r in ev:
        s = split_of[r["user_id"]]
        want_users[s].add(r["user_id"])
        want_events[s] += 1
    got = {r["split"]: r for r in q_group_split(spark, sf_dir).collect()}
    assert set(got) == set(want_users)
    for s in got:
        assert got[s]["n_users"] == len(want_users[s])
        assert got[s]["n_events"] == want_events[s]
    assert sum(r["n_events"] for r in got.values()) == len(ev)
    assert sum(r["n_users"] for r in got.values()) == len(users)
    n = len(users)
    p = GROUP_SPLIT_TRAIN / GROUP_SPLIT_MOD
    sigma = math.sqrt(p * (1 - p) * n)
    assert abs(got["train"]["n_users"] - p * n) < 4 * sigma + 1
