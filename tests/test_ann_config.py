"""pick_config contract (round-6): the helper must return measured
operating points, and — the pipeline being content-deterministic — the
returned config must actually meet the target when re-run under the
measurement protocol on the measurement corpus (sf0.1, recall@10 vs exact,
20 probes)."""

from __future__ import annotations

import os

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions.ann_config import (
    CURVES_K,
    MEASURED,
    pick_config,
)
from go_web_mapreduce_spark.sources.tables import load_table

# the measurement corpus (sf0.1, beside the test corpus) and probe count
# of tools/ann_curves.py
CURVES_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
CURVES_N_PROBES = 20
TARGET = 0.8


def test_pick_config_returns_cheapest_measured_point():
    picks = pick_config(TARGET)
    assert picks["lsh"] is None  # sign-LSH tops out at 0.40 here
    assert picks["ivf"]["config"] == {"nprobe": 16}
    # PQ's cheapest >=0.8 lever is m=16 at the default shortlist (frac
    # 0.05), NOT a bigger shortlist (frac 0.10)
    assert picks["pq"]["config"] == {"shortlist": 100, "m": 16, "ksub": 16}
    assert picks["pq"]["candidate_fraction"] == 0.05
    assert picks["ivfpq"]["config"] == {"nprobe": 16, "shortlist": 400}
    for fam in ("ivf", "pq", "ivfpq"):
        assert picks[fam]["expected_recall"] >= TARGET

    with pytest.raises(ValueError, match="tops out"):
        pick_config(TARGET, "lsh")
    with pytest.raises(KeyError):
        pick_config(TARGET, "nope")
    # every family reaches 0.5 somewhere except nothing; sanity on shape
    lows = pick_config(0.3)
    assert all(v is not None for v in lows.values())


def test_scale_rule_reproduces_the_sf10_measurement():
    """The executable scale rule must land exactly on the knobs the sf10
    re-measurement proved (SCALE.md round 9): at 200k vectors (100x the
    curve corpus) the 0.8-target ivfpq pick becomes shortlist 4000
    (fraction-preserved 2%) + nprobe 32 (one doubling per decade, capped
    at C), and expected_recall is the OBSERVED 0.800 — not the base
    curve's 0.820 promise."""
    from go_web_mapreduce_spark.functions.ann_config import scale_config

    pick = pick_config(TARGET, "ivfpq", corpus_size=200_000)
    assert pick["config"] == {
        "nprobe": 32, "shortlist": 4000, "num_centroids": 32,
    }  # measured AT C=32 (exhaustive coarse) — emitted explicitly
    assert pick["expected_recall"] == 0.800
    assert pick["recall_basis"] == "measured-at-scale"
    assert pick["corpus_size"] == 200_000
    # round-10 ADVICE: the fraction is recomputed for the scaled config
    # (the rerank fraction at 200k), not carried from the base curve
    assert pick["candidate_fraction"] == 4000 / 200_000

    # a size with no re-measurement: knobs scale, basis says so
    pick2 = pick_config(TARGET, "ivfpq", corpus_size=2_000_000)
    assert pick2["config"]["shortlist"] == 400 * 1000
    # round 11: C is emitted too (cluster_count(2M) = 1024) and nprobe's
    # doubling-per-decade caps at the EMITTED C, not the base IVF_C
    assert pick2["config"]["num_centroids"] == 1024
    assert pick2["config"]["nprobe"] == 16 * 2**3
    assert pick2["recall_basis"] == "fraction-rule"
    assert pick2["candidate_fraction"] == 400_000 / 2_000_000

    # at or below the curve corpus the measured knobs are returned as-is
    assert pick_config(TARGET, "ivfpq", corpus_size=2_000)["config"] == {
        "nprobe": 16,
        "shortlist": 400,
    }
    assert scale_config({"nprobe": 16, "shortlist": 400}, 200) == {
        "nprobe": 16,
        "shortlist": 400,
    }

    # per-family dict form threads corpus_size too
    picks = pick_config(TARGET, corpus_size=200_000)
    assert picks["lsh"] is None
    assert picks["ivfpq"]["config"] == {
        "nprobe": 32, "shortlist": 4000, "num_centroids": 32,
    }
    # pq scales its shortlist by the same fraction rule
    assert picks["pq"]["config"]["shortlist"] == 100 * 100
    # pure IVF at 200k: C emitted by the √n rule, nprobe doubled twice
    assert picks["ivf"]["config"] == {"nprobe": 64, "num_centroids": 256}
    assert picks["ivf"]["candidate_fraction"] == 64 / 256


def test_cluster_count_rule():
    """C(n) = largest power of two ≤ √n, floored at IVF_C — must land
    EXACTLY on both measured anchors (the base curve's C=32 at 2k and
    the scaled twins' measured C=256 at 200k), emit 1024 at the sf100
    corpus where fixed C=256 OOM'd (round 10), and stay monotone."""
    from go_web_mapreduce_spark.functions.ann_config import (
        IVF_C,
        cluster_count,
    )

    assert cluster_count(2_000) == 32  # base curve corpus → IVF_C
    assert cluster_count(200_000) == 256  # the measured sf10 twin point
    assert cluster_count(2_000_000) == 1024  # the sf100 prescription
    # floor: tiny corpora never go below the base quantizer
    assert cluster_count(1) == IVF_C
    assert cluster_count(500) == IVF_C
    # monotone, power-of-two, ≤ √n above the floor
    prev = 0
    for n in (10, 10**3, 10**4, 10**5, 10**6, 10**7, 10**9):
        c = cluster_count(n)
        assert c >= prev
        assert c & (c - 1) == 0, c  # power of two
        if c > IVF_C:
            assert c * c <= n
        prev = c
    with pytest.raises(ValueError):
        cluster_count(0)


def test_registered_scaled_twins_source_knobs_from_the_rule():
    """VERDICT r10 item 5: the registered scale-configuration queries
    must DERIVE their knobs from the executable rule so rule and
    operators cannot drift — and, being hash-verified registrations,
    the derived values must equal the measured literals."""
    from go_web_mapreduce_spark.functions.ann_config import cluster_count
    from go_web_mapreduce_spark.operators.similarity import (
        IVFPQ_SCALED_NPROBE,
        IVFPQ_SCALED_SHORTLIST,
        KNN_IVF_SCALED_CENTROIDS,
    )

    assert KNN_IVF_SCALED_CENTROIDS == cluster_count(200_000) == 256
    scaled = pick_config(TARGET, "ivfpq", corpus_size=200_000)["config"]
    assert IVFPQ_SCALED_NPROBE == scaled["nprobe"] == 32
    assert IVFPQ_SCALED_SHORTLIST == scaled["shortlist"] == 4000


def test_measured_table_is_internally_consistent():
    for fam, rows in MEASURED.items():
        assert rows == sorted(rows, key=lambda t: t[1]), fam  # by fraction
        for cfg, frac, recall in rows:
            assert 0 < frac <= 1 and 0 <= recall <= 1, (fam, cfg)


def test_picked_configs_meet_target_on_measurement_corpus(spark):
    """Re-run the exact measurement protocol for the three >=0.8 picks:
    content-deterministic training means the measured recalls reproduce,
    so >= TARGET holds with no slack."""
    from go_web_mapreduce_spark.operators.similarity import (
        _ivfpq_search,
        cosine_topk,
        ivf_topk,
        ivfpq_build,
        pq_topk,
    )

    emb = load_table(spark, CURVES_SF_DIR, "embeddings").localCheckpoint(
        eager=True
    )
    probes = [
        emb.filter(F.col("vec_id") == i) for i in range(CURVES_N_PROBES)
    ]
    exact = [
        {r["vec_id"] for r in cosine_topk(emb, p, CURVES_K).collect()}
        for p in probes
    ]

    def recall(mk_df) -> float:
        tot = 0.0
        for p, ex in zip(probes, exact):
            got = {r["vec_id"] for r in mk_df(p).collect()}
            tot += len(got & ex) / len(ex)
        return tot / len(probes)

    picks = pick_config(TARGET)

    ivf_cfg = picks["ivf"]["config"]
    r_ivf = recall(
        lambda p: ivf_topk(emb, p, CURVES_K, nprobe=ivf_cfg["nprobe"])
    )
    assert r_ivf >= TARGET, (r_ivf, ivf_cfg)

    pq_cfg = picks["pq"]["config"]
    r_pq = recall(
        lambda p: pq_topk(
            emb, p, CURVES_K, shortlist=pq_cfg["shortlist"],
            m=pq_cfg["m"], ksub=pq_cfg["ksub"],
        )
    )
    assert r_pq >= TARGET, (r_pq, pq_cfg)

    fq_cfg = picks["ivfpq"]["config"]
    codes, centroids, cb = ivfpq_build(emb)
    codes = codes.localCheckpoint(eager=True)
    r_fq = recall(
        lambda p: _ivfpq_search(
            codes, centroids, cb, emb, p, CURVES_K,
            fq_cfg["nprobe"], fq_cfg["shortlist"], "vec_id",
        )
    )
    assert r_fq >= TARGET, (r_fq, fq_cfg)
