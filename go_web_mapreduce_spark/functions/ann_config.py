"""Measured ANN operating points + config picker (round 6).

``MEASURED`` is the operating-curve table produced by tools/ann_curves.py
at sf0.1 (2,000x64-d embeddings, 20 probes, recall@10 vs exact brute
force) — re-run that tool and refresh this table whenever the quantizer
training or the corpus changes (values here are from the round-6 run,
after training became engine-portable). The whole pipeline is
content-deterministic, so these numbers REPRODUCE exactly on the same
corpus — which is what tests/test_ann_config.py asserts.

:func:`pick_config` turns a recall target into the cheapest measured
configuration — the answer to "which knob, and how far" that the raw
curve table leaves to the reader. The candidate fraction is the cost
proxy: for IVF it is I/O (nprobe/C of the corpus bytes under the
partition-pruned layout), for PQ it is the exact-rerank fraction (the ADC
scan always reads all 8-byte codes), for LSH it is the scanned fraction.
"""

from __future__ import annotations

import math

# measurement protocol (tools/ann_curves.py): recall@CURVES_K over 20
# probes of the sf0.1 corpus
CURVES_K = 10
# the corpus the MEASURED table was produced on: sf0.1 = 2,000 vectors.
# Every shortlist/radius knob in MEASURED is an ABSOLUTE count relative
# to this n — the reason fixed knobs collapse at a new corpus size.
CURVES_CORPUS_SIZE = 2_000
# the coarse quantizer's cluster count (operators/similarity.py
# IVF_CENTROIDS) — nprobe's ceiling
IVF_C = 32

# (config, candidate_fraction, recall@10) per family, sorted by fraction.
MEASURED: dict[str, list[tuple[dict, float, float]]] = {
    "lsh": [
        ({"radius": 0}, 0.004, 0.125),
        ({"radius": 1}, 0.035, 0.255),
        ({"radius": 2}, 0.145, 0.400),
    ],
    "ivf": [
        ({"nprobe": 1}, 1 / 32, 0.255),
        ({"nprobe": 2}, 2 / 32, 0.350),
        ({"nprobe": 4}, 4 / 32, 0.515),
        ({"nprobe": 8}, 8 / 32, 0.625),
        ({"nprobe": 16}, 16 / 32, 0.835),
        ({"nprobe": 32}, 32 / 32, 1.000),
    ],
    "pq": [
        ({"shortlist": 50, "m": 8, "ksub": 16}, 0.025, 0.485),
        ({"shortlist": 100, "m": 8, "ksub": 8}, 0.050, 0.525),
        ({"shortlist": 100, "m": 4, "ksub": 16}, 0.050, 0.480),
        ({"shortlist": 100, "m": 8, "ksub": 16}, 0.050, 0.640),
        ({"shortlist": 100, "m": 16, "ksub": 16}, 0.050, 0.870),
        ({"shortlist": 200, "m": 8, "ksub": 16}, 0.100, 0.820),
        ({"shortlist": 400, "m": 8, "ksub": 16}, 0.200, 0.960),
    ],
    "ivfpq": [
        ({"nprobe": 4, "shortlist": 100}, 4 / 32, 0.505),
        ({"nprobe": 8, "shortlist": 100}, 8 / 32, 0.580),
        ({"nprobe": 16, "shortlist": 100}, 16 / 32, 0.670),
        ({"nprobe": 16, "shortlist": 400}, 16 / 32, 0.820),
        ({"nprobe": 32, "shortlist": 400}, 32 / 32, 0.955),
    ],
}


def cluster_count(corpus_size: int) -> int:
    """Corpus-sized coarse-quantizer cluster count — the executable form
    of the C ∝ √n prescription (round 11; previously prose in SCALE.md).

    IVF bucket work is n·(n/C)·probe·d, so a CONSTANT C is quadratic in
    n; C ∝ √n balances bucket population (n/C) against quantizer cost
    (C) — the standard IVF sizing (Jégou et al. 2011 §V). The emitted
    value is the largest power of two ≤ √n, floored at IVF_C, which
    reproduces BOTH measured anchors exactly rather than interpolating:

    - n = 2,000   (sf0.1, the curve corpus)  → 32  = IVF_C, the base
      operating point every MEASURED row was produced at;
    - n = 200,000 (sf10) → 256 = KNN_IVF_SCALED_CENTROIDS, the measured
      scaled-twin point (C=32 measured exp 1.90 sf1→sf10; C=256 stays
      sublinear — SCALE.md round 9);
    - n = 2,000,000 (sf100) → 1024, the prescription where the fixed
      C=256 point measured an OOM at 2M vectors (round 10's named wall;
      validated by the bounded-worker run recorded in
      SCALE_MEASURED_SF100.json round 11).

    Power-of-two quantization keeps the emitted C stable across small
    corpus-count jitter (a re-ingested corpus ±10% does not retrain to
    a different C) and makes successive decades exact 4× steps. The
    training-sample constraint (C ≤ min(n, IVF_TRAIN_SAMPLE_CAP)) holds
    for free: 2^⌊log2 √n⌋ ≤ √n ≤ 100,000 for any n ≤ 10¹⁰ vectors.
    """
    if corpus_size < 1:
        raise ValueError(f"corpus_size must be >= 1, got {corpus_size}")
    return max(IVF_C, 2 ** int(math.floor(math.log2(math.sqrt(corpus_size)))))


# Re-measurements at OTHER corpus sizes (SCALE.md round 9, sf10 =
# 200,000 vectors = 100x the curve corpus). Two lessons, both encoded in
# scale_config below: (1) the unscaled knobs collapse — the default
# (nprobe=8, shortlist=100) fell 0.58 -> 0.26 and pick_config(0.8)'s
# (nprobe=16, shortlist=400) fell 0.82 -> 0.44; (2) preserving the
# candidate FRACTION restores the curve — shortlist 400 -> 4000 (the
# same 2% rerank fraction) measured 0.745 at nprobe=16 and 0.800 at
# nprobe=32. Keyed by (family, corpus_size); configs listed with the
# recall actually observed.
MEASURED_AT_SCALE: dict[tuple[str, int], list[tuple[dict, float]]] = {
    # num_centroids is explicit (round 11): these points were measured at
    # the C=32 coarse quantizer (nprobe=32 = C is the exhaustive-coarse
    # limit where boundary losses vanish) — returning cluster_count(n)
    # here would claim an UNMEASURED configuration.
    ("ivfpq", 200_000): [
        ({"nprobe": 8, "shortlist": 100, "num_centroids": 32}, 0.26),
        ({"nprobe": 16, "shortlist": 400, "num_centroids": 32}, 0.44),
        ({"nprobe": 16, "shortlist": 4000, "num_centroids": 32}, 0.745),
        ({"nprobe": 32, "shortlist": 4000, "num_centroids": 32}, 0.800),
    ],
}


def scale_config(config: dict, corpus_size: int) -> dict:
    """Carry a MEASURED operating point to a corpus of ``corpus_size``
    vectors — the executable form of the scale rule the sf10
    re-measurement proved (MEASURED_AT_SCALE above):

    - ``shortlist`` (and LSH ``radius``'s bucket analogue does not
      apply — radius is already corpus-relative) scales ∝ n so the
      exact-rerank **candidate fraction** — the transferable quantity —
      is preserved: ceil(shortlist · n / CURVES_CORPUS_SIZE).
    - ``num_centroids`` (round 11, the previously-missing knob): any
      coarse-quantized config (one with ``nprobe``) gets
      ``cluster_count(corpus_size)`` — C ∝ √n, the knob whose fixed
      value OOM'd the C=256 operating point at 2M vectors (round 10).
    - ``nprobe`` doubles per decade of scale-up, capped at the emitted
      C: the fraction nprobe/C is nominally corpus-independent, but
      with 100× points per Voronoi cell the coarse-quantizer boundary
      losses grow — measured: a 10×'d shortlist alone recovered only
      0.745 of the 0.82 base point; doubling nprobe 16→32 restored
      0.800. (At nprobe=C the coarse quantizer is exhaustive and the
      loss term is gone entirely.) With C itself growing ∝ √n the
      scanned coarse fraction nprobe/C SHRINKS with scale — that is the
      point of IVF: sub-linear candidate growth, the per-probe loss
      paid for by the doubling.
    - ``m``/``ksub`` are per-vector code parameters — corpus-size
      independent, unchanged.

    This is the conservative EXTRAPOLATION: fraction preservation keeps
    the operating point on the measured curve, at ∝n rerank cost. Where
    a cheaper operating point has actually been measured at the target
    size (MEASURED_AT_SCALE — e.g. 200k vectors needs only shortlist
    4000, a tenth of the fraction-preserving 40,000, for recall 0.800),
    :func:`pick_config` returns that observation instead of this rule.

    Down-scaling (corpus smaller than the curve corpus) floors at the
    measured knobs — the measured point is already achievable.
    """
    scale = corpus_size / CURVES_CORPUS_SIZE
    out = dict(config)
    if scale <= 1:
        return out
    if "shortlist" in out:
        out["shortlist"] = int(math.ceil(out["shortlist"] * scale))
    if "nprobe" in out:
        c = cluster_count(corpus_size)
        out["num_centroids"] = c
        decades = math.ceil(math.log10(scale))
        out["nprobe"] = min(c, out["nprobe"] * 2**decades)
    return out


def pick_config(
    target_recall: float,
    family: str | None = None,
    corpus_size: int | None = None,
) -> dict | dict[str, dict | None]:
    """Cheapest measured configuration meeting ``target_recall``.

    Returns ``{"family", "config", "expected_recall",
    "candidate_fraction"}`` for one family, or a per-family dict when
    ``family`` is None (``None`` value where the family's measured curve
    never reaches the target — e.g. sign-LSH tops out at 0.40 on this
    weakly separated corpus; use IVF/PQ there).

    Deliberately selects among MEASURED points instead of interpolating
    between them: the curve is concave in places (PQ's cheapest recall
    lever is ``m``, not the shortlist) and an interpolated knob value
    would return an UNMEASURED promise. The returned expected_recall is a
    number that was actually observed — and, the pipeline being
    content-deterministic, reproduces exactly under the measurement
    protocol (tests/test_ann_config.py).

    SCALE RULE (measured at sf10, SCALE.md round 9; now EXECUTABLE):
    these curves are per-CORPUS-SIZE — the shortlist/candidate knobs are
    absolute counts, so at 10× the vectors the same config covers 1/10
    the corpus fraction and recall collapses (ivfpq's 0.82 point
    measured 0.44 at 200k vectors). Pass ``corpus_size`` and the picked
    config is carried to that n: if a re-measurement exists at that
    exact size (MEASURED_AT_SCALE), the cheapest measured point meeting
    the target is returned with its OBSERVED recall
    (``recall_basis = "measured-at-scale"`` — at 200k that is shortlist
    4000 + nprobe 32 → 0.800, a tenth of the fraction-preserving
    shortlist); otherwise :func:`scale_config` extrapolates by
    preserving the candidate fraction (shortlist ∝ n; nprobe doubled
    per decade, capped at IVF_C) and ``recall_basis = "fraction-rule"``
    with expected_recall still the base-curve observation the rule aims
    to preserve. Without ``corpus_size`` the knobs are valid ONLY at
    CURVES_CORPUS_SIZE vectors.
    """
    if family is None:
        return {
            f: _scaled(_pick_one(target_recall, f), f, target_recall,
                       corpus_size)
            for f in MEASURED
        }
    out = _pick_one(target_recall, family)
    if out is None:
        best = max(r for _, _, r in MEASURED[family])
        raise ValueError(
            f"family {family!r} tops out at measured recall@{CURVES_K} "
            f"= {best:.3f} < target {target_recall} — pick another family "
            "(pick_config(target) compares all)"
        )
    return _scaled(out, family, target_recall, corpus_size)


def _scaled_fraction(config: dict, corpus_size: int) -> float | None:
    """Candidate fraction of a SCALED config at its actual corpus size —
    the base-curve fraction is stale once knobs are carried to a new n
    (round-10 ADVICE): for shortlist families the cost proxy is the
    exact-rerank fraction shortlist/n; for pure-IVF it is the scanned
    coarse fraction nprobe/C (with the emitted C, not IVF_C). LSH's
    radius is bucket-relative (fixed 256-bucket grid), so its base
    fraction carries — return None to keep it."""
    if "shortlist" in config:
        return config["shortlist"] / corpus_size
    if "nprobe" in config:
        return config["nprobe"] / config.get("num_centroids", IVF_C)
    return None


def _scaled(
    pick: dict | None,
    family: str,
    target_recall: float,
    corpus_size: int | None,
):
    if pick is None or corpus_size is None:
        return pick
    # measured override: entries are listed cheapest-first, so the first
    # one meeting the target is the pick
    for m_cfg, m_recall in MEASURED_AT_SCALE.get((family, corpus_size), []):
        if m_recall >= target_recall:
            frac = _scaled_fraction(m_cfg, corpus_size)
            return dict(
                pick,
                config=dict(m_cfg),
                expected_recall=m_recall,
                corpus_size=corpus_size,
                recall_basis="measured-at-scale",
                **(
                    {"candidate_fraction": frac}
                    if frac is not None
                    else {}
                ),
            )
    cfg = scale_config(pick["config"], corpus_size)
    frac = _scaled_fraction(cfg, corpus_size)
    return dict(
        pick,
        config=cfg,
        corpus_size=corpus_size,
        recall_basis="fraction-rule",
        **({"candidate_fraction": frac} if frac is not None else {}),
    )


def _pick_one(target_recall: float, family: str) -> dict | None:
    if family not in MEASURED:
        raise KeyError(f"unknown family {family!r}; have {sorted(MEASURED)}")
    hits = [
        (frac, recall, cfg)
        for cfg, frac, recall in MEASURED[family]
        if recall >= target_recall
    ]
    if not hits:
        return None
    frac, recall, cfg = min(hits, key=lambda t: (t[0], -t[1]))
    return {
        "family": family,
        "config": dict(cfg),
        "expected_recall": recall,
        "candidate_fraction": frac,
    }
