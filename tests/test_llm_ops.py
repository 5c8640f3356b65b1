"""Semantic invariants for the round-4 LLM-pipeline additions: sequence
packing, eval-set decontamination, and LM-rarity (perplexity-shape)
filtering. Cross-engine value equality is covered by test_oracle_parity;
these tests pin the properties the oracle can't express — conservation
laws, flag consistency, and the plan shapes that make them scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_web_mapreduce_spark.operators.dedup import DECON_MOD
from go_web_mapreduce_spark.operators.pipeline_ops import (
    SEQ_PACK_CAP,
    q_sequence_pack,
)
from go_web_mapreduce_spark.operators.text_analysis import (
    PPL_FLAG_MULT,
    q_perplexity_filter,
)
from go_web_mapreduce_spark.queries import REGISTRY
from go_web_mapreduce_spark.sources.tables import load_table
from go_web_mapreduce_spark.functions.text import tokens
from go_web_mapreduce_spark.plans import executed_plan


def test_sequence_pack_conserves_tokens_and_docs(spark, sf_dir):
    """Packing must lose nothing: per source, bin doc counts and token
    masses sum to the shard's totals, and bins are numbered 0..max with no
    gaps (concat-and-split leaves no empty window behind a full one)."""
    packed = q_sequence_pack(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        r["source"]: (r["n"], r["toks"])
        for r in docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(tokens("text"))).alias("toks"),
        )
        .collect()
    }
    by_src: dict[str, list] = {}
    for r in packed:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(truth)
    for src, rows in by_src.items():
        assert sum(r["n_docs"] for r in rows) == truth[src][0]
        assert sum(r["bin_tokens"] for r in rows) == truth[src][1]
        bins = sorted(r["bin"] for r in rows)
        assert bins == list(range(len(bins)))  # contiguous from 0


def test_sequence_pack_bins_are_ordered_id_ranges(spark, sf_dir):
    """Docs are packed in doc_id order, so bins partition each shard's id
    space into non-overlapping ascending ranges, and every bin a doc STARTS
    in was reachable (its start offset < bin boundary + cap)."""
    packed = q_sequence_pack(spark, sf_dir).collect()
    by_src: dict[str, list] = {}
    for r in packed:
        by_src.setdefault(r["source"], []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r["bin"])
        for a, b in zip(rows, rows[1:]):
            assert a["last_doc"] < b["first_doc"]
        # every non-final bin must carry at least cap's worth of progress:
        # the NEXT bin exists only because the running offset crossed its
        # boundary, so cumulative tokens through bin i >= (i+1) * cap
        # minus the final doc's spill; weaker but layout-free: cumulative
        # tokens strictly increase per bin
        cum = 0
        for r in rows[:-1]:
            cum += r["bin_tokens"]
            assert cum >= (r["bin"] + 1) * SEQ_PACK_CAP - SEQ_PACK_CAP


def test_decontaminate_counts_and_eval_exclusion(spark, sf_dir):
    out = {r["source"]: r for r in REGISTRY["q_decontaminate"].fn(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    train_truth = {
        r["source"]: r["n"]
        for r in docs.filter(F.col("doc_id") % DECON_MOD != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {s: r["n_train"] for s, r in out.items()} == train_truth
    for r in out.values():
        assert 0 <= r["n_contaminated"] <= r["n_train"]
    # the synthetic corpus genuinely contains contamination at k=4
    assert sum(r["n_contaminated"] for r in out.values()) > 0


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set must broadcast: at 100 TB the train side can
    never be shuffled for this check."""
    plan = executed_plan(REGISTRY["q_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_perplexity_filter_flag_consistency(spark, sf_dir):
    rows = q_perplexity_filter(spark, sf_dir).collect()
    assert len(rows) > 0
    flagged = 0
    for r in rows:
        assert 0 <= r["n_rare"] <= r["n_bigrams"]
        assert r["flagged"] == (PPL_FLAG_MULT * r["n_rare"] > r["n_bigrams"])
        assert abs(r["rare_frac"] - r["n_rare"] / r["n_bigrams"]) == 0.0
        flagged += bool(r["flagged"])
    # thresholds are calibrated to split the corpus, not rubber-stamp it
    assert 0 < flagged < len(rows)


def test_bpe_merge_step_mass_and_shape(spark, sf_dir):
    from go_web_mapreduce_spark.operators.text_analysis import (
        BPE_TOP,
        q_bpe_merge_step,
    )

    rows = q_bpe_merge_step(spark, sf_dir).collect()
    assert len(rows) == BPE_TOP
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert all(len(r["pair"]) == 2 for r in rows)
    # total pair mass identity: sum over words of wf * (len - 1)
    docs = load_table(spark, sf_dir, "documents")
    total = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .select((F.length("w") - 1).alias("m"))
        .agg(F.sum("m"))
        .collect()[0][0]
    )
    # the top-20 mass can't exceed the corpus pair mass
    assert sum(cnts) <= total


def test_embedding_centroids_shape_and_bounds(spark, sf_dir):
    from go_web_mapreduce_spark.operators.ml import q_embedding_centroids

    rows = q_embedding_centroids(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    label_counts = {
        r["label"]: r["n"]
        for r in emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(rows) == dim * len(label_counts)
    lo, hi = (
        emb.select(F.explode("embedding").alias("v"))
        .agg(F.min("v"), F.max("v"))
        .collect()[0]
    )
    for r in rows:
        assert r["n"] == label_counts[r["label"]]
        assert lo - 1e-9 <= r["centroid"] <= hi + 1e-9


def test_corpus_pipeline_funnel_monotonicity(spark, sf_dir):
    """The funnel can only narrow: n_train >= n_quality >= n_unique >=
    n_clean per source, retention consistent, and bins cover clean
    tokens at exactly ceil(tokens/cap)."""
    import math

    from go_web_mapreduce_spark.operators.pipeline_ops import (
        CP_BIN_CAP,
        q_corpus_pipeline,
    )

    rows = q_corpus_pipeline(spark, sf_dir).collect()
    assert rows
    narrowed = False
    for r in rows:
        assert r["n_train"] >= r["n_quality"] >= r["n_unique"] >= r["n_clean"]
        assert r["n_bins"] == math.ceil(r["clean_tokens"] / CP_BIN_CAP)
        assert abs(r["retention"] - r["n_clean"] / r["n_train"]) == 0.0
        if r["n_clean"] < r["n_train"]:
            narrowed = True
    assert narrowed  # the gates genuinely drop documents on this corpus


# ---------------------------------------------------------------------------
# BPE at real vocabulary depth (round 6): 32 merges, where merged symbols
# span earlier merges, property-tested against a pure-Python reference
# implementation of Sennrich et al. 2016 — no oracle needed, the reference
# IS the spec.
# ---------------------------------------------------------------------------

BPE_DEEP_STEPS = 32


def _py_bpe_apply(syms: list[str], l: str, r: str) -> list[str]:
    """Left-to-right non-overlapping merge — the exact semantics of the
    engine's delimiter-string `replace` rewrite."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _py_bpe_train(freq: dict[str, int], steps: int):
    """Reference BPE: greedy argmax over weighted adjacent-pair counts,
    ties broken (count desc, left asc, right asc) like the engine."""
    vocab = {w: [c for c in w] for w in freq}
    merges = []
    for step in range(1, steps + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, wf in freq.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + wf
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, l + r, cnt))
        vocab = {w: _py_bpe_apply(s, l, r) for w, s in vocab.items()}
    return merges, vocab


def test_bpe_deep_training_matches_python_reference(spark, sf_dir):
    """32 Spark merge rounds must produce exactly the reference
    implementation's merge table AND the identical final encoding of every
    vocabulary word — including merges whose symbols span earlier merges
    (asserted present, i.e. the test really reaches the interesting
    regime)."""
    from go_web_mapreduce_spark.operators.relational import token_counts
    from go_web_mapreduce_spark.operators.text_analysis import (
        _BPE_SEP,
        bpe_train,
    )

    freq_df = token_counts(load_table(spark, sf_dir, "documents"))
    freq = {r["word"]: int(r["n"]) for r in freq_df.collect()}

    merges, vocab_df = bpe_train(freq_df, BPE_DEEP_STEPS)
    py_merges, py_vocab = _py_bpe_train(freq, BPE_DEEP_STEPS)
    assert merges == py_merges
    assert len(merges) == BPE_DEEP_STEPS

    # the interesting regime: some learned pair is built FROM an earlier
    # merge (symbol longer than 2 chars => spans a previous merge)
    assert any(len(pair) > 2 for _, pair, _ in merges)

    # final encodings: reconstruct each word from its delimited encoding
    # and compare symbol-for-symbol with the reference vocabulary
    got = {}
    for r in vocab_df.collect():
        syms = [s for s in r["enc"].split(_BPE_SEP) if s]
        got["".join(syms)] = syms
    assert got == py_vocab


def test_chi2_tokens_matches_bruteforce(spark, sf_dir):
    """Per-language top-k chi2 tokens must equal a local census over the
    same presence pairs (2x2 contingency on document frequency)."""
    from collections import Counter

    from go_web_mapreduce_spark.operators.text_analysis import (
        CHI2_MIN_DF,
        CHI2_TOPK,
        q_chi2_tokens,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    pres = {
        (r["doc_id"], r["lang"], t)
        for r in rows
        for t in set(r["text"].lower().split())
        if t
    }
    n = len({r["doc_id"] for r in rows})
    nl = Counter()
    for d, l in {(d, l) for d, l, _ in pres}:
        nl[l] += 1
    df = Counter(t for _, _, t in pres)
    cell = Counter((l, t) for _, l, t in pres)
    scored: dict[str, list[tuple[float, str]]] = {}
    for (l, t), a in cell.items():
        if df[t] < CHI2_MIN_DF:
            continue
        b, c = df[t] - a, nl[l] - a
        d_ = n - df[t] - nl[l] + a
        chi2 = (
            n * (a * d_ - b * c) ** 2
            / ((a + b) * (c + d_) * (a + c) * (b + d_))
        )
        scored.setdefault(l, []).append((-chi2, t))
    got = q_chi2_tokens(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in sorted(got, key=lambda r: r["rk"]):
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == set(scored)
    for l, want in scored.items():
        want.sort()
        top = want[:CHI2_TOPK]
        assert [r["token"] for r in by_lang[l]] == [t for _, t in top]
        for r, (negchi, _) in zip(by_lang[l], top):
            assert abs(r["chi2"] - (-negchi)) < 1e-9 * max(-negchi, 1e-12)


def test_zipf_fit_matches_numpy_ols(spark, sf_dir):
    """Slope/intercept/R2 must equal a local numpy OLS on the same
    rank-frequency points, and the slope must be negative (frequency
    decreasing in rank) with R2 in (0, 1]."""
    from collections import Counter

    import numpy as np

    from go_web_mapreduce_spark.operators.text_analysis import (
        ZIPF_MAX_RANK,
        q_zipf_fit,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select("text").collect()
    cnt = Counter(t for r in rows for t in r["text"].lower().split() if t)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_MAX_RANK]
    x = np.log(np.arange(1, len(ranked) + 1, dtype=np.float64))
    y = np.log(np.array([c for _, c in ranked], dtype=np.float64))
    slope, intercept = np.polyfit(x, y, 1)
    r = np.corrcoef(x, y)[0, 1]
    got = q_zipf_fit(spark, sf_dir).collect()
    assert len(got) == 1
    g = got[0]
    assert g["n_ranks"] == len(ranked)
    assert abs(g["slope"] - slope) < 1e-6 * abs(slope)
    assert abs(g["intercept"] - intercept) < 1e-6 * max(abs(intercept), 1e-9)
    assert abs(g["r2"] - r * r) < 1e-6
    assert g["slope"] < 0.0
    assert 0.0 < g["r2"] <= 1.0


def test_cohens_kappa_matches_bruteforce(spark, sf_dir):
    """Kappa per source must equal a local census of the same two raters,
    and sit in [-1, 1] with po consistent with the contingency table."""
    from go_web_mapreduce_spark.operators.text_analysis import (
        KAPPA_SW_MIN,
        KAPPA_WLEN_MAX,
        STOPWORDS,
        q_cohens_kappa,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    sw = set(STOPWORDS["en"])
    rows = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    tab: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        tk = [t for t in r["text"].lower().split() if t]
        ra = 1 if sum(t in sw for t in tk) / max(len(tk), 1) >= KAPPA_SW_MIN else 0
        rb = 1 if sum(map(len, tk)) / max(len(tk), 1) <= KAPPA_WLEN_MAX else 0
        tab.setdefault(r["source"], []).append((ra, rb))
    got = {r["source"]: r for r in q_cohens_kappa(spark, sf_dir).collect()}
    assert set(got) == set(tab)
    for src, pairs in tab.items():
        n = len(pairs)
        agree = sum(a == b for a, b in pairs)
        a1 = sum(a for a, _ in pairs)
        b1 = sum(b for _, b in pairs)
        po = agree / n
        pe = (a1 * b1 + (n - a1) * (n - b1)) / (n * n)
        g = got[src]
        assert g["n"] == n
        assert abs(g["po"] - po) < 1e-12
        assert abs(g["pe"] - pe) < 1e-12
        assert abs(g["kappa"] - (po - pe) / (1 - pe)) < 1e-9
        assert -1.0 - 1e-9 <= g["kappa"] <= 1.0 + 1e-9


def test_pmi_collocations_matches_bruteforce(spark, sf_dir):
    """Top-k PMI bigrams must equal a local census ranked by the same
    rational lift, with pmi = ln(lift) and counts exact."""
    import math
    from collections import Counter

    from go_web_mapreduce_spark.operators.text_analysis import (
        PMI_MIN_C,
        PMI_TOPK,
        q_pmi_collocations,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select("text").collect()
    cnt = Counter()
    for r in rows:
        tk = [t for t in r["text"].lower().split() if t]
        for a, b in zip(tk, tk[1:]):
            cnt[f"{a} {b}"] += 1
    t = sum(cnt.values())
    pre = Counter()
    suf = Counter()
    for bg, c in cnt.items():
        a, b = bg.split(" ")
        pre[a] += c
        suf[b] += c
    scored = [
        (-(c * t / (pre[bg.split(' ')[0]] * suf[bg.split(' ')[1]])), bg, c)
        for bg, c in cnt.items()
        if c >= PMI_MIN_C
    ]
    scored.sort()
    want = scored[:PMI_TOPK]
    got = q_pmi_collocations(spark, sf_dir).collect()
    assert [r["bg"] for r in got] == [bg for _, bg, _ in want]
    for r, (neglift, _, c) in zip(got, want):
        assert r["c"] == c
        assert abs(r["pmi"] - math.log(-neglift)) < 1e-9


def test_self_bleu_matches_bruteforce(spark, sf_dir):
    """Clipped n-gram precisions and the geometric mean must equal a local
    replay; every precision lies in [0, 1]; a source made of corpus-common
    text scores high (sanity: the synthetic corpus is highly self-similar)."""
    import math
    from collections import Counter, defaultdict

    from go_web_mapreduce_spark.operators.text_analysis import (
        SELF_BLEU_MAX_N,
        q_self_bleu,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    per = {n: defaultdict(Counter) for n in range(1, SELF_BLEU_MAX_N + 1)}
    for r in rows:
        tk = [t for t in r["text"].lower().split() if t]
        for n in range(1, SELF_BLEU_MAX_N + 1):
            for i in range(len(tk) - n + 1):
                per[n][r["source"]][" ".join(tk[i : i + n])] += 1
    got = {r["source"]: r for r in q_self_bleu(spark, sf_dir).collect()}
    srcs = {r["source"] for r in rows}
    assert set(got) == srcs
    for src in srcs:
        ps = []
        for n in range(1, SELF_BLEU_MAX_N + 1):
            tot = Counter()
            for s2 in srcs:
                tot.update(per[n][s2])
            mine = per[n][src]
            clipped = sum(min(c, tot[g] - c) for g, c in mine.items())
            p = clipped / sum(mine.values())
            ps.append(p)
            g = got[src][f"p{n}"]
            assert abs(g - p) < 1e-12
            assert 0.0 <= g <= 1.0
        want = math.exp(sum(map(math.log, ps)) / 3)
        assert abs(got[src]["self_bleu"] - want) < 1e-9
