"""The reference's named "ML" workload: iterative optimization as MapReduce.

The reference authors list ML among the model's intended workloads
(reference: presentation.pptx, "What is MapReduce?" slide), alongside
sort/graph/SVD/inverted-index which each already have a query. This module
implements the canonical distributed-ML kernel — L2-regularized logistic
regression fit by Newton's method — in the same scale shape as the
tall-skinny Gram trick (operators/similarity.py::gram_matrix):

- each Arrow batch contributes a (dim+1)-sized partial gradient and a
  (dim+1)²-sized partial Hessian (numpy on the batch, ``mapInPandas``);
- the driver sums per-batch partials (a few KB each — never the corpus)
  and solves one tiny dense system per iteration;
- iteration count is FIXED and init is deterministic (w₀ = 0); the driver
  accumulates partials in sorted order, so a given partition layout yields
  bit-identical weights run-over-run (across different layouts the batch
  boundaries move and results agree to float64 rounding, ~1e-12 — asserted
  in tests/test_ml.py).

At 100 TB: the per-iteration cost is one corpus scan (cache/persist the
feature DataFrame across iterations on a real cluster); driver memory is
O(dim²) regardless of rows — dim ≲ 10⁴ is the bound, same as the SVD path.

Labels are synthesized deterministically from a fixed md5-derived "true"
hyperplane (the q_similarity_ann_lsh discipline), so the fit provably
recovers a known direction — asserted against a local numpy solve of the
identical objective in tests/test_ml.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions import linalg_oracle
from go_web_mapreduce_spark.functions.numeric import dsum
from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin
from go_web_mapreduce_spark.sources.tables import fan_out, load_table, local_frame

ML_DIM = 64  # embeddings table dimension
ML_ITERS = 8  # fixed Newton iterations — deterministic, no convergence races
ML_L2 = 1e-2  # ridge term: keeps the separable-label objective well-posed


def true_plane(dim: int = ML_DIM) -> list[float]:
    """Deterministic md5-derived ground-truth hyperplane (component i from
    md5(f"ml:{i}")) — reproducible everywhere, no RNG state."""
    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"ml:{i}".encode()).hexdigest()[:8], 16)
        out.append((h % 2001) / 1000.0 - 1.0)  # in [-1, 1]
    return out


def labeled_embeddings(corpus: DataFrame, dim: int = ML_DIM) -> DataFrame:
    """Attach the synthetic binary label: y = 1 iff x · w* > 0, computed
    JVM-side as a zip_with/aggregate fold against the literal plane."""
    plane = F.array(*[F.lit(v) for v in true_plane(dim)])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), plane, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return corpus.select(
        "vec_id", "embedding", (dot > 0).cast("double").alias("label")
    )


def logreg_fit(
    df: DataFrame,
    dim: int = ML_DIM,
    iters: int = ML_ITERS,
    l2: float = ML_L2,
    feat_col: str = "embedding",
    label_col: str = "label",
):
    """Fit L2-regularized logistic regression by distributed Newton.

    Per iteration, one ``mapInPandas`` pass yields each batch's exact
    partial gradient g_b = X_bᵀ(σ(X_b w) − y_b) and partial Hessian
    H_b = X_bᵀ diag(p(1−p)) X_b over bias-augmented features; the driver
    sums the partials in a sorted, fixed order (bit-reproducible across
    partition layouts) and takes the Newton step
    w ← w − (H + λI)⁻¹ (g + λw′), with the bias unpenalized.

    Returns the (dim+1) weight vector (last entry = bias) as a plain list.
    No full-corpus collect anywhere: driver traffic per iteration is
    #batches × O(dim²) partials.
    """
    import numpy as np

    # every iteration scans the features; pin them once so rounds 2..N skip
    # the source read + label projection (measured 6.0 s → 2.6 s at sf0.1,
    # bit-identical weights). At durable-cluster scale persist/checkpoint
    # to storage instead — the docstring's one-scan-per-iteration shape.
    df = pin(df)
    w = np.zeros(dim + 1)
    for _ in range(iters):
        bw = w.copy()

        def partials(batches, bw=bw):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(list(pdf[feat_col]), dtype=np.float64)
                Xa = np.hstack([X, np.ones((len(X), 1))])
                y = pdf[label_col].to_numpy(dtype=np.float64)
                z = Xa @ bw
                # overflow-stable sigmoid: exp only ever sees -|z|
                p = np.where(
                    z >= 0,
                    1.0 / (1.0 + np.exp(-np.abs(z))),
                    np.exp(-np.abs(z)) / (1.0 + np.exp(-np.abs(z))),
                )
                g = Xa.T @ (p - y)
                H = (Xa * (p * (1.0 - p))[:, None]).T @ Xa
                yield pd.DataFrame(
                    {"g": [g.tolist()], "h": [H.reshape(-1).tolist()]}
                )

        parts = df.select(feat_col, label_col).mapInPandas(
            partials, "g array<double>, h array<double>"
        ).collect()
        G = np.zeros(dim + 1)
        H = np.zeros((dim + 1, dim + 1))
        # sorted, fixed accumulation order → identical float64 rounding no
        # matter which executor finished first
        for r in sorted(parts, key=lambda r: (r["g"], r["h"])):
            G += np.array(r["g"], dtype=np.float64)
            H += np.array(r["h"], dtype=np.float64).reshape(dim + 1, dim + 1)
        reg = np.full(dim + 1, l2)
        reg[-1] = 0.0  # bias unpenalized
        G += reg * w
        H += np.diag(reg)
        w = w - _ns_solve(H, G)
    return [float(x) for x in w]


def _ns_solve(H, G):
    """Solve H x = G for SPD ``H`` by a FIXED number of Newton-Schulz
    iterations (X_{k+1} = X_k (2I − H X_k), X_0 = I/||H||_inf) instead of
    ``np.linalg.solve`` — the numerically identical, engine-portable
    algorithm functions/linalg_oracle.logreg_oracle replays in SQL, which
    is what upgrades q_ml_logreg from rows-only to hash-verified. The
    identity-scaled init keeps the needed count ~constant in corpus size
    (lambda_min and ||H||_inf both grow ~n); LOGREG_SCHULZ = 24 is
    machine-precision-converged from n=500 through n=2×10⁵ (measured;
    solve-parity asserted in tests/test_ml.py), and extra iterations past
    convergence are a no-op fixed point.
    """
    import numpy as np

    a = 1.0 / np.max(np.sum(np.abs(H), axis=1))
    Xk = a * np.eye(H.shape[0])
    I2 = 2.0 * np.eye(H.shape[0])
    for _ in range(linalg_oracle.LOGREG_SCHULZ):
        Xk = Xk @ (I2 - H @ Xk)
    return Xk @ G


@query(
    "q_ml_linreg",
    oracle="""
    WITH m AS (
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sx,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sy,
               CAST(CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sxy,
               CAST(CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sxx,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    s AS (
        SELECT *, (sxy / n - (sx / n) * (sy / n))
                  / (sxx / n - (sx / n) * (sx / n)) AS slope
        FROM m
    )
    SELECT l_returnflag, l_linestatus, slope,
           sy / n - slope * (sx / n) AS intercept, n
    FROM s
    """,
    description="closed-form ML: per-group least-squares fit of price on "
    "quantity — the normal equations' 1-D case from exact decimal-cast "
    "moment sums (functions/numeric.py discipline: order-independent, "
    "bit-identical across engines; partial map-side merge, one shuffle, "
    "zero UDFs, no output rounding); the multi-dim generalization is the "
    "q_ml_logreg / gram_matrix partials path",
)
def q_ml_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the decimal-cast partial aggregation is the whole cost and it runs on
    # the SCAN's map side — a single-row-group benchmark file is one
    # effective task, so widen the projected narrow columns first (guide
    # §2.5 input skew: repartition immediately after an unsplittable read;
    # a no-op at cluster scale where the scan is already thousands of splits)
    li = fan_out(load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    ))
    m = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        F.count(F.lit(1)).alias("n"),
    )
    # divided-moment form: operands stay O(E[xy]), avoiding the n·Σxy
    # cancellation blow-up past 2^53; identical IEEE expression in the oracle
    s = m.withColumn(
        "slope",
        (F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")))
        / (F.col("sxx") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))),
    )
    return s.select(
        "l_returnflag",
        "l_linestatus",
        "slope",
        (F.col("sy") / F.col("n") - F.col("slope") * (F.col("sx") / F.col("n"))).alias("intercept"),
        "n",
    )


_COV_COLS = [("q", "l_quantity"), ("p", "l_extendedprice"), ("d", "l_discount")]


def _cov_oracle() -> str:
    moments = ",\n               ".join(
        f"CAST(CAST(sum(CAST({ca} * {cb} AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS s_{na}{nb}"
        for i, (na, ca) in enumerate(_COV_COLS)
        for nb, cb in _COV_COLS[i:]
    )
    firsts = ",\n               ".join(
        f"CAST(CAST(sum(CAST({c} AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS s_{n}"
        for n, c in _COV_COLS
    )
    covs = ",\n           ".join(
        f"s_{na}{nb} / n - (s_{na} / n) * (s_{nb} / n) AS cov_{na}{nb}"
        for i, (na, _) in enumerate(_COV_COLS)
        for nb, _c in _COV_COLS[i:]
    )
    return f"""
    WITH m AS (
        SELECT l_returnflag,
               {firsts},
               {moments},
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           {covs},
           n
    FROM m
    """


@query(
    "q_ml_covariance",
    oracle=_cov_oracle(),
    description="full covariance matrix of (quantity, price, discount) per "
    "return flag from exact decimal second moments — the dim²-moments "
    "pattern the tall-skinny Gram path (similarity.py::gram_matrix) "
    "distributes when dim is large; here dim=3 stays a single "
    "partial-aggregated shuffle with every entry hash-verified "
    "bit-for-bit (cov(x,y) = E[xy] − E[x]E[y] over identical doubles)",
)
def q_ml_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nine decimal-cast moment sums per row on the scan's map side: fan_out
    # the projected columns so the partial aggregation runs cluster-wide
    # rather than on the single effective task a one-row-group benchmark
    # file yields (no-op at scale; results are order-independent decimals)
    li = fan_out(load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        *[F.col(c).cast("double").alias(n) for n, c in _COV_COLS],
    ))
    aggs = [dsum(n).alias(f"s_{n}") for n, _ in _COV_COLS]
    aggs += [
        dsum(F.col(na) * F.col(nb)).alias(f"s_{na}{nb}")
        for i, (na, _) in enumerate(_COV_COLS)
        for nb, _c in _COV_COLS[i:]
    ]
    m = li.groupBy("l_returnflag").agg(*aggs, F.count(F.lit(1)).alias("n"))
    covs = [
        (
            F.col(f"s_{na}{nb}") / F.col("n")
            - (F.col(f"s_{na}") / F.col("n")) * (F.col(f"s_{nb}") / F.col("n"))
        ).alias(f"cov_{na}{nb}")
        for i, (na, _) in enumerate(_COV_COLS)
        for nb, _c in _COV_COLS[i:]
    ]
    return m.select("l_returnflag", *covs, "n")


@query(
    "q_ml_logreg",
    oracle=linalg_oracle.logreg_oracle(ML_DIM, ML_ITERS, ML_L2, true_plane()),
    description="the reference's named 'ML' workload: L2-regularized "
    "logistic regression fit by distributed Newton — per-batch partial "
    "gradient/Hessian via mapInPandas (the Gram-partials shape), driver "
    "solves the (dim+1)² system per fixed iteration by 24 Newton-Schulz "
    "steps; deterministic init, md5-derived labels, and sorted partial "
    "accumulation make the weights reproducible; hash-verified because "
    "the DuckDB oracle replays the identical fixed-iteration fit "
    "(functions/linalg_oracle.py); solve parity and plane recovery "
    "asserted in tests/test_ml.py; no full-corpus collect",
)
def q_ml_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT fan_out: the per-iteration mapInPandas over a
    # checkpointed small table repeats 8 times — at one partition the
    # kernel cost is tiny and 32 partitions just multiply per-task Python
    # worker overhead ×256 (measured 2× slower); at real scale the scan
    # is already wide
    emb = load_table(spark, sf_dir, "embeddings")
    data = labeled_embeddings(emb)
    w = logreg_fit(data)
    rows = [(i, w[i]) for i in range(len(w))]
    return local_frame(spark, rows, "component bigint, weight double")


# ---------------------------------------------------------------------------
# q_embedding_centroids — per-label mean embedding (vector aggregation)
# ---------------------------------------------------------------------------

CENTROID_SCALE = 9  # decimal scale for exact component sums; |v| <= 1-ish


@query(
    "q_embedding_centroids",
    oracle=f"""
    WITH comp AS (
        SELECT label,
               unnest(list_transform(range(0, len(embedding)),
                   i -> {{'pos': i, 'v': CAST(embedding[i+1] AS DOUBLE)}})) AS r
        FROM embeddings
    )
    SELECT label,
           CAST(r['pos'] AS BIGINT) AS pos,
           CAST(CAST(sum(CAST(r['v'] AS DECIMAL(18,{CENTROID_SCALE})))
                     AS STRING) AS DOUBLE) / count(*) AS centroid,
           CAST(count(*) AS BIGINT) AS n
    FROM comp GROUP BY 1, 2
    """,
    description="per-label mean embedding (class centroids): posexplode to "
    "(label, dim) pairs, exact decimal component sums / count — the "
    "vector-aggregation kernel behind nearest-class-mean classifiers and "
    "IVF coarse quantizer seeding; hash-verified bit-for-bit via the "
    "decimal-sum discipline (functions/numeric.py)",
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid computation as a relational aggregate: explode vectors to
    (label, pos, component) and partial-aggregate — at 100 TB this is ONE
    shuffle whose width is labels × dim (tiny), with map-side combine
    doing virtually all the work; no vector ever reaches the driver. The
    float32→double cast is exact, and the decimal(18,9) component sums
    make the mean order-independent (same discipline as dsum; no double
    lands on a half-way point at scale 9 — dyadic denominators can't
    carry the 5^9 factor — so both engines round identically).
    """
    return _label_centroids(load_table(spark, sf_dir, "embeddings"))


def _label_centroids(emb: DataFrame) -> DataFrame:
    """``(label, pos bigint, centroid, n)``: each label's mean embedding,
    one row per component — decimal component sums over ``count``."""
    comp = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return comp.groupBy("label", F.col("pos").cast("bigint").alias("pos")).agg(
        (
            dsum(F.col("v").cast("double"), CENTROID_SCALE) / F.count(F.lit(1))
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n"),
    )


def _centroid_arrays(emb: DataFrame) -> DataFrame:
    """``(label, carr)``: each label's centroid packed into one
    ``array<double>`` in component order (labels × dim — broadcast-sized)."""
    return _label_centroids(emb).groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("carr")
    )


# ---------------------------------------------------------------------------
# q_nearest_centroid — nearest-class-mean classification (confusion matrix)
# ---------------------------------------------------------------------------


@query(
    "q_nearest_centroid",
    oracle=f"""
    WITH comp AS (
        SELECT label,
               unnest(list_transform(range(0, len(embedding)),
                   i -> {{'pos': i, 'v': CAST(embedding[i+1] AS DOUBLE)}})) AS r
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, CAST(r['pos'] AS BIGINT) AS pos,
               CAST(CAST(sum(CAST(r['v'] AS DECIMAL(18,{CENTROID_SCALE})))
                         AS STRING) AS DOUBLE) / count(*) AS cv
        FROM comp GROUP BY 1, 2
    ),
    centarr AS (
        SELECT clabel, array_agg(cv ORDER BY pos) AS carr
        FROM cent GROUP BY clabel
    ),
    dists AS (
        SELECT e.vec_id, e.label, c.clabel,
               list_reduce(list_transform(range(len(e.embedding)),
                   i -> (e.embedding[i+1]::DOUBLE - c.carr[i+1])
                      * (e.embedding[i+1]::DOUBLE - c.carr[i+1])),
                   (x, y) -> x + y) AS d
        FROM embeddings e CROSS JOIN centarr c
    ),
    pick AS (
        SELECT vec_id, label, clabel AS pred_label, d FROM dists
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) = 1
    )
    SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(d AS DECIMAL(18,9))) AS STRING) AS DOUBLE)
             / count(*) AS mean_sq_dist
    FROM pick GROUP BY 1, 2
    """,
    description="nearest-class-mean classification: per-label centroids "
    "from exact decimal component sums (the q_embedding_centroids "
    "kernel), then each vector is assigned to its closest centroid by a "
    "map-side left-fold squared-L2 against the BROADCAST centroid table "
    "(labels x dim — a few KB at any corpus size) and the confusion "
    "matrix is aggregated with decimal-exact mean distances; the 100 TB "
    "plan is one scan + one broadcast + one tiny-key shuffle, no vector "
    "ever leaves its partition; deterministic tie-break (distance, then "
    "label) mirrored in both engines over bit-identical doubles",
)
def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centarr = _centroid_arrays(emb).withColumnRenamed("label", "clabel")
    vec = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("x"),
    )
    # broadcast cross join against the labels-sized centroid table — the
    # deliberate probe-batch pattern (same as similarity.py:67), never a
    # data-data cartesian
    dists = vec.crossJoin(F.broadcast(centarr)).select(
        "vec_id",
        "label",
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("x"), F.col("carr"), lambda x, c: (x - c) * (x - c)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            F.col("clabel"),
        ).alias("s"),
    )
    pick = dists.groupBy("vec_id", "label").agg(F.min("s").alias("m"))
    return pick.groupBy(
        "label", F.col("m.clabel").alias("pred_label")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (dsum(F.col("m.d"), 9) / F.count(F.lit(1))).alias("mean_sq_dist"),
    )


# ---------------------------------------------------------------------------
# q_quality_classifier — in-engine text-feature logistic regression
# ---------------------------------------------------------------------------

QC_DIM = 3  # [ln(1+tokens), avg word length / 10, en-stopword ratio]


def _qc_feat_sql() -> str:
    """DuckDB twin of the feature projection in q_quality_classifier."""
    from go_web_mapreduce_spark.operators.text_analysis import (
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS["en"])
    return f"""
    SELECT doc_id AS id,
           [ln((1 + len(tk))::DOUBLE),
            (n_chars::DOUBLE / greatest(len(tk), 1)) / 10.0,
            len(list_filter(tk, t -> list_contains({sw}, t)))::DOUBLE
              / greatest(len(tk), 1)] AS emb,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
    FROM (SELECT doc_id, lang, n_chars,
                 list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
          FROM documents) qc_t
    """


@query(
    "q_quality_classifier",
    oracle=linalg_oracle.logreg_core_oracle(QC_DIM, ML_ITERS, ML_L2, _qc_feat_sql()),
    description="fastText-style corpus quality/language classifier trained "
    "IN-ENGINE: logistic regression over three text-derived surface "
    "features (log token count, average word length, English-stopword "
    "ratio) with label lang='en', fit by the same distributed-Newton + "
    "Newton-Schulz machinery as q_ml_logreg — the classifier-training "
    "step of a data-quality pipeline (score-and-filter is then a map-side "
    "projection against the 4 learned weights). Features are exact "
    "integer-derived IEEE expressions, so the whole fit hash-verifies "
    "against the SQL replay (functions/linalg_oracle.logreg_core_oracle); "
    "per iteration one mapInPandas scan yields dim²-sized partials — no "
    "corpus collect at any scale",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.text import tokens
    from go_web_mapreduce_spark.operators.text_analysis import (
        STOPWORDS,
        stopword_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    safe_n = F.greatest(n_tok, F.lit(1))
    feats = F.array(
        F.log((F.lit(1) + n_tok).cast("double")),
        (F.col("n_chars").cast("double") / safe_n) / F.lit(10.0),
        stopword_hits(toks, STOPWORDS["en"]).cast("double") / safe_n,
    )
    data = docs.select(
        "doc_id",
        feats.alias("features"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("label"),
    )
    w = logreg_fit(data, dim=QC_DIM, feat_col="features")
    rows = [(i, w[i]) for i in range(len(w))]
    return local_frame(spark, rows, "component bigint, weight double")


# ---------------------------------------------------------------------------
# q_auc_eval — exact ROC-AUC of a quality signal (rank statistic)
# ---------------------------------------------------------------------------


@query(
    "q_auc_eval",
    oracle="""
    WITH scored AS (
      SELECT source,
             len(list_filter(list_filter(string_split(lower(text), ' '),
                     t -> t <> ''),
                 t -> list_contains(['the','a','and','of','to','is','in'], t)))::DOUBLE
               / greatest(len(list_filter(string_split(lower(text), ' '),
                     t -> t <> '')), 1) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    grp AS (
      SELECT source, s, COUNT(*) AS n, SUM(y) AS p
      FROM scored GROUP BY source, s
    ),
    ranked AS (
      SELECT source, s, n, p,
             SUM(n) OVER (PARTITION BY source ORDER BY s
                          ROWS UNBOUNDED PRECEDING) - n AS below
      FROM grp
    ),
    agg AS (
      SELECT source,
             SUM(p * (below + (n + 1) / 2.0)) AS sum_pos_ranks,
             CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(n) - SUM(p) AS BIGINT) AS n_neg
      FROM ranked GROUP BY source
    )
    SELECT source,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN (sum_pos_ranks - n_pos * (n_pos + 1) / 2.0)
                     / (n_pos::DOUBLE * n_neg)
                ELSE 0.5 END AS auc,
           n_pos, n_neg
    FROM agg
    """,
    description="exact ROC-AUC (Mann-Whitney U with midrank tie handling) "
    "of the English-stopword-ratio quality signal against lang='en', per "
    "source — the evaluation primitive behind every quality-filter "
    "threshold choice. Every quantity is an exact integer or half-integer "
    "(average ranks), so sums are bit-exact under ANY aggregation order "
    "and the AUC hash-verifies with no decimal casts. Plan: one "
    "(source, score) group-aggregate, then a cumulative window over the "
    "DISTINCT score values per source — bounded by the score's value "
    "space (ratios with denominator <= max doc length), not corpus rows — "
    "then a per-source fold; nothing corpus-sized is ever sorted",
)
def q_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from go_web_mapreduce_spark.functions.text import tokens
    from go_web_mapreduce_spark.operators.text_analysis import (
        STOPWORDS,
        stopword_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = docs.select(
        "source",
        (
            stopword_hits(toks, STOPWORDS["en"]).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grp = scored.groupBy("source", "s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("p")
    )
    w = (
        W.partitionBy("source")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = grp.withColumn("below", F.sum("n").over(w) - F.col("n"))
    agg = ranked.groupBy("source").agg(
        F.sum(
            F.col("p") * (F.col("below") + (F.col("n") + 1) / F.lit(2.0))
        ).alias("sum_pos_ranks"),
        F.sum("p").alias("n_pos"),
        (F.sum("n") - F.sum("p")).alias("n_neg"),
    )
    return agg.select(
        "source",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            (
                F.col("sum_pos_ranks")
                - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
            )
            / (F.col("n_pos").cast("double") * F.col("n_neg")),
        )
        .otherwise(F.lit(0.5))
        .alias("auc"),
        "n_pos",
        "n_neg",
    )


# ---------------------------------------------------------------------------
# q_calibration — reliability bins + Brier score + ECE for a quality signal
# ---------------------------------------------------------------------------

CAL_BINS = 10

_CAL_SCORED = """
      SELECT len(list_filter(list_filter(string_split(lower(text), ' '),
                     t -> t <> ''),
                 t -> list_contains(['the','a','and','of','to','is','in'], t)))::DOUBLE
               / greatest(len(list_filter(string_split(lower(text), ' '),
                     t -> t <> '')), 1) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
"""


@query(
    "q_calibration",
    oracle=f"""
    WITH scored AS ({_CAL_SCORED}),
    binned AS (
      SELECT CAST(least(floor(s * {CAL_BINS}), {CAL_BINS - 1}) AS INT) AS bin,
             s, y
      FROM scored
    ),
    per_bin AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(s AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
               / count(*) AS conf,
             CAST(sum(y) AS DOUBLE) / count(*) AS acc
      FROM binned GROUP BY 1
    ),
    gl AS (
      SELECT CAST(CAST(sum(CAST((s - y) * (s - y) AS DECIMAL(18,8)))
                  AS STRING) AS DOUBLE) / count(*) AS brier,
             CAST(count(*) AS BIGINT) AS total
      FROM binned
    ),
    ece AS (
      SELECT CAST(CAST(sum(CAST(n * abs(acc - conf) AS DECIMAL(18,8)))
                  AS STRING) AS DOUBLE) / (SELECT total FROM gl) AS ece
      FROM per_bin
    )
    SELECT bin, n, conf, acc, abs(acc - conf) AS gap,
           (SELECT brier FROM gl) AS brier,
           (SELECT ece FROM ece) AS ece
    FROM per_bin
    """,
    description="calibration diagnostics for the stopword-ratio quality "
    f"signal against the lang=en label: {CAL_BINS} equal-width reliability "
    "bins with per-bin confidence/accuracy/gap, plus the global Brier "
    "score and expected calibration error on every row — the is-my-"
    "quality-score-a-probability check run before using scores as "
    "sampling weights. Plan: ONE corpus scan into bin partials "
    f"(<= {CAL_BINS} rows), everything downstream is bin-sized; the "
    "global Brier/ECE come from the same partials via a broadcast "
    "one-row spine, all sums decimal-cast",
)
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum
    from go_web_mapreduce_spark.functions.text import tokens
    from go_web_mapreduce_spark.operators.text_analysis import (
        STOPWORDS,
        stopword_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = docs.select(
        (
            stopword_hits(toks, STOPWORDS["en"]).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("s") * CAL_BINS), F.lit(CAL_BINS - 1))
        .cast("int")
        .alias("bin"),
        "s", "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (dsum("s", 8) / F.count(F.lit(1))).alias("conf"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("acc"),
        dsum((F.col("s") - F.col("y")) * (F.col("s") - F.col("y")), 8).alias("_sq"),
    )
    glob = per_bin.agg(
        (F.sum("_sq") / F.sum("n")).alias("brier"),
        (
            dsum(F.col("n") * F.abs(F.col("acc") - F.col("conf")), 8)
            / F.sum("n")
        ).alias("ece"),
    )
    return per_bin.crossJoin(F.broadcast(glob)).select(
        "bin", "n", "conf", "acc",
        F.abs(F.col("acc") - F.col("conf")).alias("gap"),
        "brier", "ece",
    )


# ---------------------------------------------------------------------------
# q_embedding_separation — Fisher-style class separability in embedding space
# ---------------------------------------------------------------------------

SEP_SCALE = 9  # decimal scale for component sums (|v| <= 1-ish)


@query(
    "q_embedding_separation",
    oracle=f"""
    WITH comp AS (
      SELECT label,
             unnest(list_transform(range(0, len(embedding)),
                 i -> {{'pos': i, 'v': CAST(embedding[i+1] AS DOUBLE)}})) AS r
      FROM embeddings
    ),
    mom AS (
      SELECT label, r['pos'] AS pos,
             CAST(CAST(sum(CAST(r['v'] AS DECIMAL(18,{SEP_SCALE})))
                       AS STRING) AS DOUBLE) AS s,
             CAST(CAST(sum(CAST(r['v'] * r['v'] AS DECIMAL(18,{SEP_SCALE + 3})))
                       AS STRING) AS DOUBLE) AS q,
             CAST(count(*) AS BIGINT) AS n
      FROM comp GROUP BY 1, 2
    ),
    mu AS (
      SELECT label, pos, s / n AS m, q / n - (s / n) * (s / n) AS var_c, n
      FROM mom
    ),
    disp AS (
      SELECT label, max(n) AS n,
             CAST(CAST(sum(CAST(var_c AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
               AS disp
      FROM mu GROUP BY label
    ),
    pair AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(CAST(sum(CAST((a.m - b.m) * (a.m - b.m) AS DECIMAL(18,12)))
                       AS STRING) AS DOUBLE) AS dist2
      FROM mu a JOIN mu b ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT p.label_a, p.label_b, p.dist2,
           da.disp AS disp_a, db.disp AS disp_b,
           p.dist2 / (da.disp + db.disp) AS fisher,
           da.n AS n_a, db.n AS n_b
    FROM pair p JOIN disp da ON da.label = p.label_a
                JOIN disp db ON db.label = p.label_b
    """,
    description="Fisher-style separability of every embedding label pair: "
    "squared centroid distance over the sum of within-class dispersions "
    "(trace of per-class variance), all derived from one pass of exact "
    "decimal component moments — the are-these-classes-actually-separated "
    "audit run before trusting embedding labels for curation or sampling. "
    "Plan: ONE posexplode shuffle to (label, dim) moment partials "
    "(labels x dim rows), then label-pair math on dimension-sized data; "
    "no vector reaches the driver, the pair join is labels^2-sized",
)
def q_embedding_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    mom = comp.groupBy("label", "pos").agg(
        dsum("v", SEP_SCALE).alias("s"),
        dsum(F.col("v") * F.col("v"), SEP_SCALE + 3).alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = mom.select(
        "label", "pos",
        (F.col("s") / F.col("n")).alias("m"),
        (
            F.col("q") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("var_c"),
        "n",
    )
    disp = mu.groupBy("label").agg(
        F.max("n").alias("n"), dsum("var_c", 12).alias("disp")
    )
    a = mu.select(F.col("label").alias("label_a"), "pos", F.col("m").alias("ma"))
    b = mu.select(F.col("label").alias("label_b"), "pos", F.col("m").alias("mb"))
    pair = (
        a.join(b, (a.pos == b.pos) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            dsum(
                (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")), 12
            ).alias("dist2")
        )
    )
    da = disp.select(
        F.col("label").alias("label_a"), F.col("disp").alias("disp_a"),
        F.col("n").alias("n_a"),
    )
    db = disp.select(
        F.col("label").alias("label_b"), F.col("disp").alias("disp_b"),
        F.col("n").alias("n_b"),
    )
    return (
        pair.join(F.broadcast(da), "label_a")
        .join(F.broadcast(db), "label_b")
        .select(
            "label_a", "label_b", "dist2", "disp_a", "disp_b",
            (F.col("dist2") / (F.col("disp_a") + F.col("disp_b"))).alias("fisher"),
            "n_a", "n_b",
        )
    )


# ---------------------------------------------------------------------------
# q_pr_curve — exact precision-recall curve + average precision per source
# ---------------------------------------------------------------------------


@query(
    "q_pr_curve",
    oracle="""
    WITH scored AS (
      SELECT source,
             len(list_filter(list_filter(string_split(lower(text), ' '),
                     t -> t <> ''),
                 t -> list_contains(['the','a','and','of','to','is','in'], t)))::DOUBLE
               / greatest(len(list_filter(string_split(lower(text), ' '),
                     t -> t <> '')), 1) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    grp AS (
      SELECT source, s, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
      FROM scored GROUP BY source, s
    ),
    cum AS (
      SELECT source, s,
             sum(n) OVER w AS tp_fp, sum(p) OVER w AS tp,
             sum(p) OVER (PARTITION BY source) AS npos
      FROM grp
      WINDOW w AS (PARTITION BY source ORDER BY s DESC
                   ROWS UNBOUNDED PRECEDING)
    ),
    pts AS (
      SELECT source, s AS threshold,
             CAST(tp AS BIGINT) AS tp,
             CAST(tp_fp - tp AS BIGINT) AS fp,
             CAST(tp AS DOUBLE) / tp_fp AS precision,
             CAST(tp AS DOUBLE) / npos AS recall,
             CAST(tp - coalesce(lag(tp) OVER (PARTITION BY source ORDER BY s DESC), 0)
                  AS DOUBLE) / npos AS d_recall
      FROM cum WHERE npos > 0
    ),
    ap AS (
      SELECT source,
             CAST(CAST(sum(CAST(d_recall * precision AS DECIMAL(18,12)))
                       AS STRING) AS DOUBLE) AS ap
      FROM pts GROUP BY source
    )
    SELECT p.source, p.threshold, p.tp, p.fp, p.precision, p.recall, a.ap
    FROM pts p JOIN ap a ON a.source = p.source
    """,
    description="exact precision-recall curve of the stopword-ratio quality "
    "signal against the lang=en label, one point per DISTINCT score "
    "threshold per source, plus average precision (the step-wise integral "
    "sum((r_k - r_(k-1)) p_k) — scikit-learn's definition) on every row — "
    "the threshold-free ranking-quality eval that complements q_auc_eval "
    "when positives are rare. Plan: one (source, score) aggregation, "
    "cumulative windows over DISTINCT scores only (bounded by the score's "
    "value space, never corpus rows), a source-sized AP reduce joined "
    "back; all counts exact integers, AP decimal-cast",
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from go_web_mapreduce_spark.functions.numeric import dsum
    from go_web_mapreduce_spark.functions.text import tokens
    from go_web_mapreduce_spark.operators.text_analysis import (
        STOPWORDS,
        stopword_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = docs.select(
        "source",
        (
            stopword_hits(toks, STOPWORDS["en"]).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grp = scored.groupBy("source", "s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("p")
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.col("s").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = grp.select(
        "source", "s",
        F.sum("n").over(w).alias("tp_fp"),
        F.sum("p").over(w).alias("tp"),
        F.sum("p").over(W.partitionBy("source")).alias("npos"),
    ).filter(F.col("npos") > 0)
    lag_tp = F.lag("tp").over(W.partitionBy("source").orderBy(F.col("s").desc()))
    pts = cum.select(
        "source",
        F.col("s").alias("threshold"),
        F.col("tp").cast("bigint").alias("tp"),
        (F.col("tp_fp") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("tp").cast("double") / F.col("tp_fp")).alias("precision"),
        (F.col("tp").cast("double") / F.col("npos")).alias("recall"),
        (
            (F.col("tp") - F.coalesce(lag_tp, F.lit(0))).cast("double")
            / F.col("npos")
        ).alias("d_recall"),
    )
    ap = pts.groupBy("source").agg(
        dsum(F.col("d_recall") * F.col("precision"), 12).alias("ap")
    )
    return pts.join(F.broadcast(ap), "source").select(
        "source", "threshold", "tp", "fp", "precision", "recall", "ap"
    )


# ---------------------------------------------------------------------------
# q_mcnemar — paired comparison of the two quality raters against truth
# ---------------------------------------------------------------------------


from go_web_mapreduce_spark.operators.text_analysis import (  # noqa: E402
    KAPPA_SW_MIN as _MCN_SW_MIN,
)
from go_web_mapreduce_spark.operators.text_analysis import (  # noqa: E402
    KAPPA_WLEN_MAX as _MCN_WLEN_MAX,
)


@query(
    "q_mcnemar",
    oracle=f"""
    WITH rated AS (
      SELECT source,
             CASE WHEN len(list_filter(tk,
                      t -> list_contains(['the','a','and','of','to','is','in'], t)))::DOUBLE
                      / greatest(len(tk), 1) >= {_MCN_SW_MIN}
                  THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(list_aggregate(tk, 'string_agg', ''))::DOUBLE
                      / greatest(len(tk), 1) <= {_MCN_WLEN_MAX}
                  THEN 1 ELSE 0 END AS rb,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM (SELECT source, lang,
                   list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
            FROM documents)
    ),
    cells AS (
      SELECT source,
             CAST(sum(CASE WHEN ra = y AND rb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN ra <> y AND rb = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM rated GROUP BY source
    )
    SELECT source, n, b, c,
           CASE WHEN b + c > 0
                THEN (abs(CAST(b AS DOUBLE) - c) - 1.0)
                     * (abs(CAST(b AS DOUBLE) - c) - 1.0) / (b + c)
                ELSE 0.0 END AS mcnemar_chi2,
           b > c AS a_better
    FROM cells
    """,
    description="McNemar's paired test per source between the two binary "
    "quality raters of q_cohens_kappa, judged against the lang=en truth: "
    "only the DISCORDANT counts matter (b = A right & B wrong, c = the "
    "reverse), chi2 = (|b-c|-1)^2/(b+c) with continuity correction — the "
    "statistically-sound way to declare one classifier better than "
    "another on the same rows (paired design; a two-proportion z on the "
    "same data would be wrong). Plan: ONE scan computing both verdicts "
    "and the truth per row, integer discordance partials per source",
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.text import tokens
    from go_web_mapreduce_spark.operators.text_analysis import (
        KAPPA_SW_MIN,
        KAPPA_WLEN_MAX,
        STOPWORDS,
        stopword_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    tk = tokens("text")
    rated = docs.select(
        "source",
        F.when(
            stopword_hits(tk, STOPWORDS["en"]).cast("double")
            / F.greatest(F.size(tk), F.lit(1))
            >= KAPPA_SW_MIN,
            1,
        ).otherwise(0).alias("ra"),
        F.when(
            F.length(F.array_join(tk, "")).cast("double")
            / F.greatest(F.size(tk), F.lit(1))
            <= KAPPA_WLEN_MAX,
            1,
        ).otherwise(0).alias("rb"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    cells = rated.groupBy("source").agg(
        F.sum(
            F.when((F.col("ra") == F.col("y")) & (F.col("rb") != F.col("y")), 1).otherwise(0)
        ).cast("bigint").alias("b"),
        F.sum(
            F.when((F.col("ra") != F.col("y")) & (F.col("rb") == F.col("y")), 1).otherwise(0)
        ).cast("bigint").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    chi2 = F.when(
        F.col("b") + F.col("c") > 0,
        (F.abs(F.col("b").cast("double") - F.col("c")) - 1.0)
        * (F.abs(F.col("b").cast("double") - F.col("c")) - 1.0)
        / (F.col("b") + F.col("c")),
    ).otherwise(F.lit(0.0))
    return cells.select(
        "source", "n", "b", "c",
        chi2.alias("mcnemar_chi2"),
        (F.col("b") > F.col("c")).alias("a_better"),
    )


# ---------------------------------------------------------------------------
# q_conformal_threshold — split-conformal per-class thresholds + coverage
# ---------------------------------------------------------------------------

CONF_ALPHA = 0.1  # target miscoverage: coverage guarantee >= 1 - alpha


@query(
    "q_conformal_threshold",
    oracle=f"""
    WITH split AS (
      SELECT vec_id, label, embedding,
             ('0x' || substr(md5('cf:' || vec_id::VARCHAR), 1, 4))::BIGINT % 4
               AS part
      FROM embeddings
    ),
    comp AS (
      SELECT label,
             unnest(list_transform(range(0, len(embedding)),
                 i -> {{'pos': i, 'v': CAST(embedding[i+1] AS DOUBLE)}})) AS r
      FROM split WHERE part <= 1
    ),
    cent AS (
      SELECT label, CAST(r['pos'] AS BIGINT) AS pos,
             CAST(CAST(sum(CAST(r['v'] AS DECIMAL(18,{CENTROID_SCALE})))
                       AS STRING) AS DOUBLE) / count(*) AS cv
      FROM comp GROUP BY 1, 2
    ),
    centarr AS (
      SELECT label, array_agg(cv ORDER BY pos) AS carr FROM cent GROUP BY label
    ),
    scored AS (
      SELECT s.vec_id, s.label, s.part,
             list_reduce(list_transform(range(len(s.embedding)),
                 i -> (s.embedding[i+1]::DOUBLE - c.carr[i+1])
                    * (s.embedding[i+1]::DOUBLE - c.carr[i+1])),
                 (x, y) -> x + y) AS nc
      FROM split s JOIN centarr c ON c.label = s.label
    ),
    cal AS (
      SELECT label, nc,
             row_number() OVER (PARTITION BY label ORDER BY nc, vec_id) AS r,
             count(*) OVER (PARTITION BY label) AS n
      FROM scored WHERE part = 2
    ),
    thr AS (
      SELECT label, CAST(max(n) AS BIGINT) AS n_cal,
             max(CASE WHEN r = CAST(ceil((max_n + 1) * {1 - CONF_ALPHA})
                                    AS BIGINT) THEN nc END) AS threshold
      FROM (SELECT label, nc, r, n, max(n) OVER (PARTITION BY label) AS max_n
            FROM cal)
      GROUP BY label
    ),
    ev AS (
      SELECT s.label, t.n_cal, t.threshold,
             CAST(count(*) AS BIGINT) AS n_eval,
             CAST(sum(CASE WHEN s.nc <= t.threshold THEN 1 ELSE 0 END)
                  AS BIGINT) AS covered
      FROM scored s JOIN thr t ON t.label = s.label
      WHERE s.part = 3
      GROUP BY 1, 2, 3
    )
    SELECT label, n_cal, n_eval, threshold,
           CAST(covered AS DOUBLE) / n_eval AS coverage
    FROM ev
    """,
    description="split-conformal prediction per class (Vovk; Angelopoulos "
    "2021 tutorial form): vectors hash-split three ways — centroids fit on "
    "the training part, the threshold calibrates on a DISJOINT part "
    "(calibrating on fitting points breaks exchangeability; measured "
    "coverage 0.40 vs 0.9 before this separation), coverage evaluates on "
    "a third. The nonconformity score is squared L2 to the OWN-class "
    "centroid, the class threshold is the "
    f"ceil((n+1)(1-{CONF_ALPHA}))-th smallest calibration score (an "
    "ACTUAL score value by rank selection — the same ulp-proof discipline "
    "as q_winsorized_mean), and held-out coverage is reported (guaranteed "
    ">= 1-alpha in expectation by exchangeability) — the "
    "distribution-free uncertainty primitive for abstention/routing in a "
    "curation pipeline. Plan: centroids from decimal component sums, "
    "scores via a broadcast labels x dim table (one scan, vectors never "
    "shuffle), thresholds by per-label rank windows on calibration "
    "scores only",
)
def q_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    part = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cf:"), F.col("vec_id").cast("string"))), 1, 4),
            16, 10,
        ).cast("bigint")
        % 4
    )
    # PROPER split conformal needs THREE disjoint parts: the model (the
    # centroids) fits on parts 0-1, the threshold calibrates on part 2,
    # coverage evaluates on part 3. Calibrating on the fitting points
    # breaks exchangeability (in-sample scores are biased small) and the
    # coverage guarantee with it — measured 0.40 vs the 0.9 target before
    # this fix; the guarantee holds after (tests).
    split = emb.select("vec_id", "label", "embedding", part.alias("part"))
    centarr = _centroid_arrays(split.filter(F.col("part") <= 1))
    scored = split.join(F.broadcast(centarr), "label").select(
        "vec_id", "label", "part",
        F.aggregate(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                F.col("carr"),
                lambda x, c: (x - c) * (x - c),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("nc"),
    )
    wl = W.partitionBy("label")
    cal = scored.filter(F.col("part") == 2).select(
        "label", "nc",
        F.row_number().over(wl.orderBy("nc", "vec_id")).alias("r"),
        F.count(F.lit(1)).over(wl).alias("n"),
    )
    thr = cal.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_cal"),
        F.max(
            F.when(
                F.col("r")
                == F.ceil((F.col("n") + 1) * F.lit(1 - CONF_ALPHA)).cast("bigint"),
                F.col("nc"),
            )
        ).alias("threshold"),
    )
    ev = (
        scored.filter(F.col("part") == 3)
        .join(F.broadcast(thr), "label")
        .groupBy("label", "n_cal", "threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(
                F.when(F.col("nc") <= F.col("threshold"), 1).otherwise(0)
            ).cast("bigint").alias("covered"),
        )
    )
    return ev.select(
        "label", "n_cal", "n_eval", "threshold",
        (F.col("covered").cast("double") / F.col("n_eval")).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# q_naive_bayes — multinomial naive Bayes language classifier
# ---------------------------------------------------------------------------

NB_TEST_MOD = 5  # doc_id % 5 == 0 is the held-out test fold

_NB_TK = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


@query(
    "q_naive_bayes",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_NB_TK}) AS w FROM documents
    ),
    train AS (SELECT * FROM toks WHERE doc_id % {NB_TEST_MOD} <> 0),
    cwc AS (SELECT lang AS c, w, count(*) AS cnt FROM train GROUP BY c, w),
    tot AS (SELECT c, sum(cnt) AS total FROM cwc GROUP BY c),
    vocab AS (SELECT count(DISTINCT w) AS v FROM train),
    prior AS (
      SELECT lang AS c, count(*) AS n_docs,
             sum(count(*)) OVER () AS n_train
      FROM documents WHERE doc_id % {NB_TEST_MOD} <> 0 GROUP BY lang
    ),
    tw AS (
      SELECT doc_id, lang, w, count(*) AS n FROM toks
      WHERE doc_id % {NB_TEST_MOD} = 0 GROUP BY doc_id, lang, w
    ),
    scored AS (
      SELECT tw.doc_id, tw.lang, p.c,
             ln(CAST(p.n_docs AS DOUBLE) / CAST(p.n_train AS DOUBLE))
             + CAST(CAST(sum(CAST(
                 tw.n * ln(CAST(coalesce(cwc.cnt, 0) + 1 AS DOUBLE)
                           / CAST(t.total + v.v AS DOUBLE))
               AS DECIMAL(28,12))) AS STRING) AS DOUBLE) AS score
      FROM tw
      JOIN prior p ON true
      JOIN tot t ON t.c = p.c
      JOIN vocab v ON true
      LEFT JOIN cwc ON cwc.c = p.c AND cwc.w = tw.w
      GROUP BY tw.doc_id, tw.lang, p.c, p.n_docs, p.n_train
    ),
    pred AS (
      SELECT doc_id, lang, c AS predicted FROM scored
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, c ASC) = 1
    )
    SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, predicted
    """,
    description="multinomial naive Bayes language classifier trained "
    "IN-ENGINE (the generative counterpart to q_quality_classifier's "
    "discriminative fit): per-class token likelihoods with Laplace "
    "smoothing α=1 from the doc_id%5≠0 folds, argmax of ln P(c) + "
    "Σ n_w·ln P(w|c) on the held-out fold, emitted as the 5×5 integer "
    "confusion matrix — zero float surface in the output, and the scores "
    "themselves follow the decimal-cast sum discipline (each term is the "
    "identical IEEE ln of an exact-integer ratio, DECIMAL(28,12)-rounded "
    "before the order-independent sum; class argmax compares identical "
    "doubles, ties to the smaller class label). Plan: one explode + "
    "(class, word) groupBy for the model (vocab×5 rows, map-side "
    "combined), 5-row priors/totals broadcast, test word counts left-join "
    "the model on (word, class) — unknown words smooth to cnt 0 — then a "
    "doc-keyed argmax. Model size is vocabulary-bounded, never corpus²",
)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generative text classification over the same surface tokens the
    dedup/tokenizer families use (functions/text.py::tokens). Extension
    mandate: a corpus pipeline's lang-ID model trained on the corpus
    itself (q_lang_id is the heuristic scorer; this is the learned one)."""
    from go_web_mapreduce_spark.operators.relational import tokenized

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs, "doc_id", "lang").withColumnRenamed("word", "w")
    is_test = F.col("doc_id") % NB_TEST_MOD == 0
    train = toks.where(~is_test)
    cwc = train.groupBy(F.col("lang").alias("c"), "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = cwc.groupBy("c").agg(F.sum("cnt").alias("total"))
    vocab = train.agg(F.count_distinct("w").alias("v"))
    prior = (
        docs.where(~is_test)
        .groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    n_train = docs.where(~is_test).agg(F.count(F.lit(1)).alias("n_train"))
    tw = toks.where(is_test).groupBy("doc_id", "lang", "w").agg(
        F.count(F.lit(1)).alias("n")
    )
    term = (
        tw.crossJoin(F.broadcast(prior))
        .join(F.broadcast(tot), "c")
        .crossJoin(F.broadcast(vocab))
        .join(cwc, ["c", "w"], "left")
        .select(
            "doc_id",
            "lang",
            "c",
            "n_docs",
            (
                F.col("n")
                * F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                    / (F.col("total") + F.col("v")).cast("double")
                )
            ).cast("decimal(28,12)").alias("t"),
        )
    )
    scored = (
        term.groupBy("doc_id", "lang", "c", "n_docs")
        .agg(F.sum("t").cast("string").cast("double").alias("s"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "doc_id",
            "lang",
            "c",
            (
                F.log(F.col("n_docs").cast("double") / F.col("n_train").cast("double"))
                + F.col("s")
            ).alias("score"),
        )
    )
    pred = scored.groupBy("doc_id", "lang").agg(
        F.min(F.struct((-F.col("score")).alias("neg"), F.col("c"))).alias("m")
    )
    return pred.groupBy("lang", F.col("m.c").alias("predicted")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# q_decision_stump — exact 1-level decision tree trained in-engine
# ---------------------------------------------------------------------------


@query(
    "q_decision_stump",
    oracle="""
    WITH lab AS (
        SELECT n_chars AS x, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    tot AS (SELECT count(*) AS n, sum(y) AS pos FROM lab),
    vals AS (SELECT x, count(*) AS c, sum(y) AS p FROM lab GROUP BY x),
    cum AS (
        SELECT x, sum(c) OVER (ORDER BY x) AS nl, sum(p) OVER (ORDER BY x) AS pl
        FROM vals
    ),
    scored AS (
        SELECT x AS threshold, nl, pl, n, pos,
               (nl - greatest(pl, nl - pl))
             + ((n - nl) - greatest(pos - pl, (n - nl) - (pos - pl))) AS err
        FROM cum, tot
    ),
    best AS (SELECT * FROM scored ORDER BY err, threshold LIMIT 1)
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(err AS BIGINT) AS err,
           CAST(n AS BIGINT) AS n,
           CAST(pos AS BIGINT) AS pos,
           CAST(CASE WHEN pl > nl - pl THEN 1 ELSE 0 END AS INT) AS left_pred,
           CAST(CASE WHEN pos - pl > (n - nl) - (pos - pl) THEN 1 ELSE 0 END AS INT) AS right_pred,
           CAST((n - err) * 1000000 // n AS BIGINT) AS acc_ppm
    FROM best
    """,
    description="1-level decision tree (stump) trained in-engine: the exact "
    "misclassification-minimizing threshold on n_chars for predicting "
    "lang='en' — every candidate split scored from ONE cumulative window "
    "over the distinct-value census, argmin by exact integer error count "
    "(ties to the smallest threshold), majority leaf predictions and "
    "floor-divided accuracy ppm; the weak learner every boosting stack is "
    "built from, and the standard first-look baseline for 'is this "
    "metadata feature predictive at all'",
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stump training is two aggregations, not a model-zoo import:
    (1) census the feature's distinct values with per-value positives,
    (2) one cumulative window in value order turns each distinct value
    into a fully-scored candidate split (left/right counts in O(1) from
    the prefix sums), then an integer argmin. Misclassification count —
    not Gini/entropy — is the split criterion precisely because it is an
    INTEGER: the argmin is exact in both engines with no float-tie
    hazard, and for a 1-level tree it is a perfectly standard criterion.
    The window runs over the distinct-VALUE census (vocabulary-sized,
    ~500 lengths here), never the corpus; at 100 TB a continuous feature
    is first bucketed to ~10⁴ quantile bins by one map-side pass and the
    same plan runs on the bin census — the corpus is touched exactly
    once either way. The grand total rides a 1-row broadcast join."""
    lab = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    tot = lab.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    vals = lab.groupBy("x").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("p")
    )
    from pyspark.sql import Window

    w = Window.orderBy("x").rangeBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        "x", F.sum("c").over(w).alias("nl"), F.sum("p").over(w).alias("pl")
    )
    scored = cum.join(F.broadcast(tot)).select(
        F.col("x").alias("threshold"),
        "nl",
        "pl",
        "n",
        "pos",
        (
            (F.col("nl") - F.greatest("pl", F.col("nl") - F.col("pl")))
            + (
                (F.col("n") - F.col("nl"))
                - F.greatest(
                    F.col("pos") - F.col("pl"),
                    (F.col("n") - F.col("nl")) - (F.col("pos") - F.col("pl")),
                )
            )
        ).alias("err"),
    )
    best = scored.agg(
        F.min(
            F.struct(
                "err", "threshold", "nl", "pl", "n", "pos"
            )
        ).alias("b")
    ).select("b.*")
    return best.select(
        F.col("threshold").cast("long").alias("threshold"),
        F.col("err").cast("long").alias("err"),
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("pos"),
        F.when(F.col("pl") > F.col("nl") - F.col("pl"), 1)
        .otherwise(0)
        .cast("int")
        .alias("left_pred"),
        F.when(
            F.col("pos") - F.col("pl")
            > (F.col("n") - F.col("nl")) - (F.col("pos") - F.col("pl")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("right_pred"),
        F.expr("CAST((n - err) * 1000000 DIV n AS BIGINT)").alias("acc_ppm"),
    )


# ---------------------------------------------------------------------------
# q_embedding_outliers — intra-class outliers by distance to own centroid
# ---------------------------------------------------------------------------

OUTLIER_TOPK = 3  # farthest vectors reported per label


@query(
    "q_embedding_outliers",
    oracle=f"""
    WITH comp AS (
        SELECT label,
               unnest(list_transform(range(0, len(embedding)),
                   i -> {{'pos': i, 'v': CAST(embedding[i+1] AS DOUBLE)}})) AS r
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, CAST(r['pos'] AS BIGINT) AS pos,
               CAST(CAST(sum(CAST(r['v'] AS DECIMAL(18,{CENTROID_SCALE})))
                         AS STRING) AS DOUBLE) / count(*) AS cv
        FROM comp GROUP BY 1, 2
    ),
    centarr AS (
        SELECT clabel, array_agg(cv ORDER BY pos) AS carr
        FROM cent GROUP BY clabel
    ),
    dists AS (
        SELECT e.vec_id, e.label,
               list_reduce(list_transform(range(len(e.embedding)),
                   i -> (e.embedding[i+1]::DOUBLE - c.carr[i+1])
                      * (e.embedding[i+1]::DOUBLE - c.carr[i+1])),
                   (x, y) -> x + y) AS d
        FROM embeddings e JOIN centarr c ON c.clabel = e.label
    )
    SELECT label, vec_id, d AS sq_dist,
           CAST(row_number() OVER (PARTITION BY label ORDER BY d DESC, vec_id)
                AS INT) AS rnk
    FROM dists
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY d DESC, vec_id)
            <= {OUTLIER_TOPK}
    """,
    description=f"intra-class embedding outliers: the {OUTLIER_TOPK} vectors "
    "farthest (squared L2) from their OWN label's centroid, per label — "
    "the standard mislabeled-sample / noisy-embedding triage list every "
    "embedding-space cleaning pass starts from (the within-class "
    "complement of q_nearest_centroid's between-class assignment). "
    "Centroids come from exact decimal component sums; each distance is "
    "the same left-fold zip arithmetic in both engines over bit-identical "
    "doubles, so the DESC ranking and the reported distances hash-verify",
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan to centroids (labels × dim shuffle, map-side combined),
    one broadcast of the labels-sized centroid table back onto the
    embeddings scan — a KEYED join, so each vector meets exactly its own
    centroid (vs q_nearest_centroid's deliberate probe-batch cross) —
    then a per-label top-k window over (label)-partitioned distances. At
    100 TB: no vector leaves its partition until the top-k shuffle, whose
    carried rows are already label-bounded; AQE handles the label skew."""
    emb = load_table(spark, sf_dir, "embeddings")
    centarr = _centroid_arrays(emb).withColumnRenamed("label", "clabel")
    vec = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("x"),
    )
    dists = vec.join(
        F.broadcast(centarr), vec.label == centarr.clabel
    ).select(
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with(F.col("x"), F.col("carr"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("d"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("label").orderBy(F.col("d").desc(), "vec_id")
    return (
        dists.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= OUTLIER_TOPK)
        .select(
            "label", "vec_id", F.col("d").alias("sq_dist"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# q_ndcg — ranking-quality evaluation (NDCG@k) with integer-scaled discounts
# ---------------------------------------------------------------------------

NDCG_K = 10      # evaluate the top-10 of the system ranking
NDCG_GRADES = 4  # graded relevance 0..3 from revenue quartiles

# discount weights floor(10^6 / log2(pos+1)) for positions 1..k, computed
# ONCE here and embedded as integer literals in BOTH engines — the only
# transcendental in NDCG becomes a fixed lookup, so the whole metric is
# integer arithmetic until the final dcg/idcg ratio of two exact bigints
import math as _math  # noqa: E402

_NDCG_W = [int(10**6 // _math.log2(p + 1)) for p in range(1, NDCG_K + 1)]
_NDCG_W_CASE = (
    "CASE rn " + " ".join(f"WHEN {p + 1} THEN {w}" for p, w in enumerate(_NDCG_W))
    + " ELSE 0 END"
)
# graded gain (2^rel - 1) as a CASE so both engines state identical text
_NDCG_GAIN_CASE = (
    "CASE rel "
    + " ".join(f"WHEN {r} THEN {(1 << r) - 1}" for r in range(NDCG_GRADES))
    + " ELSE 0 END"
)


@query(
    "q_ndcg",
    oracle=f"""
    WITH perf AS (
      SELECT c.c_mktsegment AS segment, l.l_partkey AS part,
             sum(CAST(round(l.l_quantity) AS BIGINT)) AS qty,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS rev_cents
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    graded AS (
      SELECT segment, part, qty,
             {NDCG_GRADES} - ntile({NDCG_GRADES}) OVER (
                 PARTITION BY segment ORDER BY rev_cents DESC, part) AS rel
      FROM perf
    ),
    gains AS (
      SELECT segment, part, qty, {_NDCG_GAIN_CASE} AS gain FROM graded
    ),
    sys_top AS (
      SELECT segment, gain, rn FROM (
        SELECT segment, gain, row_number() OVER (
                   PARTITION BY segment ORDER BY qty DESC, part) AS rn
        FROM gains
      ) WHERE rn <= {NDCG_K}
    ),
    ideal_top AS (
      SELECT segment, gain, rn FROM (
        SELECT segment, gain, row_number() OVER (
                   PARTITION BY segment ORDER BY gain DESC, part) AS rn
        FROM gains
      ) WHERE rn <= {NDCG_K}
    ),
    dcg AS (
      SELECT segment, sum(gain * ({_NDCG_W_CASE})) AS dcg_scaled
      FROM sys_top GROUP BY segment
    ),
    idcg AS (
      SELECT segment, sum(gain * ({_NDCG_W_CASE})) AS idcg_scaled
      FROM ideal_top GROUP BY segment
    ),
    np AS (SELECT segment, count(*) AS n_parts FROM perf GROUP BY segment)
    SELECT np.segment,
           CAST(np.n_parts AS BIGINT) AS n_parts,
           CAST(dcg.dcg_scaled AS BIGINT) AS dcg_scaled,
           CAST(idcg.idcg_scaled AS BIGINT) AS idcg_scaled,
           CASE WHEN idcg.idcg_scaled = 0 THEN NULL
                ELSE CAST(dcg.dcg_scaled AS DOUBLE) / CAST(idcg.idcg_scaled AS DOUBLE)
           END AS ndcg
    FROM np
    JOIN dcg ON dcg.segment = np.segment
    JOIN idcg ON idcg.segment = np.segment
    """,
    description=f"ranking-quality evaluation: NDCG@{NDCG_K} per market "
    "segment of the behavioral ranking (parts by units sold) against "
    f"revenue-graded relevance ({NDCG_GRADES} quartile grades, gain "
    "2^rel-1) — the standard retrieval/recommender eval metric "
    "(Järvelin & Kekäläinen 2002). The log2 discounts are pre-scaled "
    "integer weights embedded identically in both engines, so DCG/IDCG "
    "are exact bigints and NDCG is the same double bit-for-bit",
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation queries are corpus-scale too: the per-segment part
    census is one shuffle; both rank windows carry the segment partition
    key and feed a rn <= k filter, which Spark executes as
    WindowGroupLimit — each map-side partition forwards at most k rows
    per segment, so the windows never sort a corpus-scaled partition for
    the top-10. The relevance grade deliberately does NOT use a
    per-segment ntile window (segments are a 5-value dimension, so each
    window partition would be corpus/5-sized — the exact hazard
    q_rfm_segments eliminated): the grade comes from ONE range-
    partitioned range_prefix keyed by segment over (-rev_cents, part,
    qty), so in-segment rank = cum_less + 1, folded through the exact
    _ntile_from_pos bucket arithmetic against the per-segment count (a
    segment-dimension broadcast). Bit-identical to the oracle's ntile.
    The discount table trick is the load-bearing determinism move: NDCG's
    only transcendental (log2) is evaluated ONCE in Python over the k
    fixed positions and shipped as integer literals to both engines —
    no float surface until the final ratio of two exact integers."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").alias("part"),
        F.round("l_quantity").cast("long").alias("q1"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("rc1"),
    )
    perf = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("segment", "part")
        .agg(F.sum("q1").alias("qty"), F.sum("rc1").alias("rev_cents"))
    )
    from go_web_mapreduce_spark.operators.analytics import _ntile_from_pos
    from go_web_mapreduce_spark.operators.graph import range_prefix

    # (neg_rc, part) is already unique within segment; qty rides along in
    # the order because range_prefix returns only its sort columns
    ranked = range_prefix(
        perf.select(
            "segment", (-F.col("rev_cents")).alias("neg_rc"), "part", "qty"
        ),
        ["neg_rc", "part", "qty"],
        key="segment",
    )
    segn = perf.groupBy("segment").agg(F.count(F.lit(1)).alias("ns"))
    graded = ranked.join(F.broadcast(segn), "segment").select(
        "segment",
        "part",
        "qty",
        (
            F.lit(NDCG_GRADES)
            - _ntile_from_pos(
                F.col("cum_less") + 1, F.col("ns"), NDCG_GRADES
            )
        ).alias("rel"),
    )
    gains = graded.select(
        "segment", "part", "qty", F.expr(_NDCG_GAIN_CASE).alias("gain")
    )

    def _top(order_cols) -> DataFrame:
        return (
            gains.select(
                "segment",
                "gain",
                F.row_number()
                .over(Window.partitionBy("segment").orderBy(*order_cols))
                .alias("rn"),
            )
            .where(F.col("rn") <= NDCG_K)
            .groupBy("segment")
            .agg(
                F.sum(F.col("gain") * F.expr(_NDCG_W_CASE)).alias("s")
            )
        )

    dcg = _top([F.col("qty").desc(), F.col("part")]).withColumnRenamed(
        "s", "dcg_scaled"
    )
    idcg = _top([F.col("gain").desc(), F.col("part")]).withColumnRenamed(
        "s", "idcg_scaled"
    )
    np_df = perf.groupBy("segment").agg(F.count(F.lit(1)).alias("n_parts"))
    return (
        np_df.join(dcg, "segment")
        .join(idcg, "segment")
        .select(
            "segment",
            "n_parts",
            "dcg_scaled",
            "idcg_scaled",
            F.when(F.col("idcg_scaled") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("dcg_scaled").cast("double")
                / F.col("idcg_scaled").cast("double")
            )
            .alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# q_classification_report — per-class precision / recall / F1 from a
# confusion-matrix census (the multi-class companion to q_auc_eval /
# q_pr_curve, which are binary)
# ---------------------------------------------------------------------------

# fixed price-band thresholds (cents) for the weak priority classifier:
# band k predicts priority class k. Fixed literals — NOT data quantiles —
# so the predictor is a pure map-side projection at any corpus size.
CLSRPT_BANDS_CENTS = [8_000_00, 15_000_00, 22_000_00, 29_000_00]

_CLSRPT_PRED_SQL = (
    "CASE"
    + "".join(
        f" WHEN price_cents < {t} THEN '{k + 1}'"
        for k, t in enumerate(CLSRPT_BANDS_CENTS)
    )
    + f" ELSE '{len(CLSRPT_BANDS_CENTS) + 1}' END"
)


@query(
    "q_classification_report",
    oracle=f"""
    WITH scored AS (
      SELECT substr(o_orderpriority, 1, 1) AS y,
             {_CLSRPT_PRED_SQL} AS p
      FROM (SELECT o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders)
    ),
    conf AS (SELECT y, p, COUNT(*) AS n FROM scored GROUP BY y, p),
    by_true AS (SELECT y AS cls, SUM(n) AS support,
                       SUM(CASE WHEN y = p THEN n ELSE 0 END) AS tp
                FROM conf GROUP BY y),
    by_pred AS (SELECT p AS cls, SUM(n) AS predicted FROM conf GROUP BY p)
    SELECT t.cls,
           CAST(t.support AS BIGINT) AS support,
           CAST(t.tp AS BIGINT) AS tp,
           CAST(coalesce(pr.predicted, 0) - t.tp AS BIGINT) AS fp,
           CAST(t.support - t.tp AS BIGINT) AS fn,
           CASE WHEN coalesce(pr.predicted, 0) > 0
                THEN CAST(t.tp AS DOUBLE) / pr.predicted ELSE 0.0 END
             AS precision,
           CAST(t.tp AS DOUBLE) / t.support AS recall,
           CASE WHEN 2 * t.tp + (coalesce(pr.predicted, 0) - t.tp)
                     + (t.support - t.tp) > 0
                THEN 2.0 * t.tp
                     / (2 * t.tp + (coalesce(pr.predicted, 0) - t.tp)
                        + (t.support - t.tp))
                ELSE 0.0 END AS f1
    FROM by_true t LEFT JOIN by_pred pr ON pr.cls = t.cls
    ORDER BY t.cls
    """,
    description="multi-class classification report: per-class support / "
    "tp / fp / fn / precision / recall / F1 of a fixed price-band "
    "priority predictor against the true order priority — the standard "
    "model-eval summary (one row per class) behind every classifier "
    "comparison in a data pipeline. The whole report derives from ONE "
    "confusion-matrix census: a single (y, p) group-aggregate whose "
    "result is classes² rows (25 here), after which every metric is "
    "arithmetic on that tiny table; F1 uses the exact-integer identity "
    "2·tp / (2·tp + fp + fn) so no float precedes the final ratios",
)
def q_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the corpus is touched exactly once, by a map-side
    projection (priority prefix + fixed price banding — no quantiles, no
    second pass) feeding a partial-aggregated groupBy(y, p) that emits at
    most classes² = 25 rows. Everything after — the per-true and
    per-predicted marginals and their join — is dimension-sized; the join
    is broadcast by AQE at any scale. Precision/recall/F1 are ratios of
    exact bigint counts (F1 via 2tp/(2tp+fp+fn), not the mean-of-ratios
    form), so the report hash-verifies bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).alias("y"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    scored = orders.select("y", F.expr(_CLSRPT_PRED_SQL).alias("p"))
    conf = scored.groupBy("y", "p").agg(F.count(F.lit(1)).alias("n"))
    by_true = conf.groupBy(F.col("y").alias("cls")).agg(
        F.sum("n").alias("support"),
        F.sum(F.when(F.col("y") == F.col("p"), F.col("n")).otherwise(0)).alias(
            "tp"
        ),
    )
    by_pred = conf.groupBy(F.col("p").alias("cls")).agg(
        F.sum("n").alias("predicted")
    )
    j = by_true.join(F.broadcast(by_pred), "cls", "left").select(
        "cls",
        "support",
        "tp",
        (F.coalesce(F.col("predicted"), F.lit(0)) - F.col("tp")).alias("fp"),
        (F.col("support") - F.col("tp")).alias("fn"),
    )
    denom_f1 = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    return j.select(
        "cls",
        "support",
        "tp",
        "fp",
        "fn",
        F.when(
            (F.col("tp") + F.col("fp")) > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
        (F.col("tp").cast("double") / F.col("support")).alias("recall"),
        F.when(denom_f1 > 0, F.lit(2.0) * F.col("tp") / denom_f1)
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )


# ---------------------------------------------------------------------------
# q_als_user_step — one exact user-side step of Alternating Least Squares
# (Hu, Koren & Volinsky 2008): given fixed rank-2 item factors, solve each
# user's ridge normal equations in closed form — the building block of
# every distributed matrix-factorization recommender
# ---------------------------------------------------------------------------

ALS_LAMBDA = 100  # ridge regularizer (integer, added to the Gram diagonal)
ALS_FMOD = 19     # item-factor value space: md5-derived integers in [-9, 9]


def _als_factor_sql(salt: str, key: str, dialect: str) -> str:
    if dialect == "duckdb":
        h = f"('0x' || substr(md5('{salt}:' || CAST({key} AS VARCHAR)), 1, 4))::BIGINT"
    else:
        h = f"CAST(conv(substring(md5(CONCAT('{salt}:', CAST({key} AS STRING))), 1, 4), 16, 10) AS BIGINT)"
    return f"({h} % {ALS_FMOD} - {ALS_FMOD // 2})"


def _als_solve(orders: DataFrame, lines: DataFrame) -> DataFrame:
    """The ALS user half-step's solve from ``orders`` ``(o_orderkey,
    o_custkey)`` and ``lines`` ``(l_orderkey, x1, x2, y)``: per-order Gram
    partials, the per-user re-sum with the ``ALS_LAMBDA`` ridge on the
    diagonal, then the closed-form 2×2 solve."""
    per_order = lines.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("x1") * F.col("x1")).alias("pa"),
        F.sum(F.col("x1") * F.col("x2")).alias("pb"),
        F.sum(F.col("x2") * F.col("x2")).alias("pd"),
        F.sum(F.col("x1") * F.col("y")).alias("p1"),
        F.sum(F.col("x2") * F.col("y")).alias("p2"),
    )
    g = (
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
        .groupBy(F.col("o_custkey").alias("u"))
        .agg(
            F.sum("pn").alias("n_obs"),
            (F.sum("pa") + ALS_LAMBDA).alias("a"),
            F.sum("pb").alias("b"),
            (F.sum("pd") + ALS_LAMBDA).alias("d"),
            F.sum("p1").alias("sxy1"),
            F.sum("p2").alias("sxy2"),
        )
    )
    det_d = F.col("a").cast("double") * F.col("d") - F.col("b").cast(
        "double"
    ) * F.col("b")
    return g.select(
        F.col("u").alias("custkey"),
        "n_obs",
        "sxy1",
        "sxy2",
        (F.col("a") * F.col("d") - F.col("b") * F.col("b")).alias("det"),
        (
            (
                F.col("d").cast("double") * F.col("sxy1")
                - F.col("b").cast("double") * F.col("sxy2")
            )
            / det_d
        ).alias("w1"),
        (
            (
                F.col("a").cast("double") * F.col("sxy2")
                - F.col("b").cast("double") * F.col("sxy1")
            )
            / det_d
        ).alias("w2"),
    )


@query(
    "q_als_user_step",
    oracle=f"""
    WITH r AS (
      SELECT o.o_custkey AS u,
             {_als_factor_sql('alsf1', 'l.l_partkey', 'duckdb')} AS x1,
             {_als_factor_sql('alsf2', 'l.l_partkey', 'duckdb')} AS x2,
             CAST(round(l.l_quantity) AS BIGINT) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    g AS (
      SELECT u, CAST(count(*) AS BIGINT) AS n_obs,
             sum(x1 * x1) + {ALS_LAMBDA} AS a,
             sum(x1 * x2) AS b,
             sum(x2 * x2) + {ALS_LAMBDA} AS d,
             CAST(sum(x1 * y) AS BIGINT) AS sxy1,
             CAST(sum(x2 * y) AS BIGINT) AS sxy2
      FROM r GROUP BY u
    )
    SELECT u AS custkey, n_obs, sxy1, sxy2,
           CAST(a * d - b * b AS BIGINT) AS det,
           (CAST(d AS DOUBLE) * sxy1 - CAST(b AS DOUBLE) * sxy2)
             / (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * b) AS w1,
           (CAST(a AS DOUBLE) * sxy2 - CAST(b AS DOUBLE) * sxy1)
             / (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * b) AS w2
    FROM g
    """,
    description="one user-side ALS step (Hu, Koren & Volinsky 2008): with "
    "rank-2 item factors fixed (md5-derived integers in [-9,9] — in a "
    "real recommender this is the broadcast factor table from the "
    "previous half-step), each user's ridge normal equations "
    f"(XᵀX + {ALS_LAMBDA}·I)w = Xᵀy are accumulated as exact bigint "
    "Gram sums and solved in closed 2×2 form — the distributed "
    "matrix-factorization primitive. The ridge diagonal keeps det = "
    "ad − b² ≥ λ² > 0 (Cauchy–Schwarz), so the division is always "
    "defined; w1/w2 are single IEEE expressions over exact integers",
)
def q_als_user_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: Gram partials fold BEFORE the join — lineitem
    aggregates per order key first (count + the five integer sums, all
    associative), so the orders join carries one partial row per ORDER,
    not one per line, and the groupBy(user) merely re-sums order
    partials: per-user state is O(k²) whatever the interaction count,
    and the join input shrinks by the lines-per-order factor. This
    ordering is load-bearing at scale — the original line-level join
    measured exp 1.406 across sf10→sf100 (600M line rows through the
    shuffle, spill-bound); the partial-first plan moves the same exact
    integers. At real scale the item factors arrive by broadcast/
    bucketed join instead of the hash derivation; the accumulation and
    closed-form solve are unchanged. Rank 2 keeps the solve literal;
    higher rank swaps in a k×k Cholesky inside the same
    aggregate-then-solve shape."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # two md5 evaluations per LINE on the scan's map side: fan_out the
    # three projected columns so the hash kernel runs cluster-wide
    # (single-row-group benchmark file = one effective task; no-op at scale)
    li = fan_out(load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.round("l_quantity").cast("bigint").alias("y")
    )).select(
        "l_orderkey",
        F.expr(_als_factor_sql("alsf1", "l_partkey", "spark")).alias("x1"),
        F.expr(_als_factor_sql("alsf2", "l_partkey", "spark")).alias("x2"),
        "y",
    )
    return _als_solve(o, li)


# ---------------------------------------------------------------------------
# q_als_user_step_bcast — the same ALS user half-step with the item
# factors materialized as a FACTOR TABLE and joined in, the shape a real
# recommender runs (the previous half-step's output is a table, not a
# derivable function of the item key)
# ---------------------------------------------------------------------------


@query(
    "q_als_user_step_bcast",
    oracle=f"""
    WITH f AS (
      SELECT p_partkey,
             {_als_factor_sql('alsf1', 'p_partkey', 'duckdb')} AS x1,
             {_als_factor_sql('alsf2', 'p_partkey', 'duckdb')} AS x2
      FROM part
    ),
    r AS (
      SELECT o.o_custkey AS u, f.x1, f.x2,
             CAST(round(l.l_quantity) AS BIGINT) AS y
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN f ON f.p_partkey = l.l_partkey
    ),
    g AS (
      SELECT u, CAST(count(*) AS BIGINT) AS n_obs,
             sum(x1 * x1) + {ALS_LAMBDA} AS a,
             sum(x1 * x2) AS b,
             sum(x2 * x2) + {ALS_LAMBDA} AS d,
             CAST(sum(x1 * y) AS BIGINT) AS sxy1,
             CAST(sum(x2 * y) AS BIGINT) AS sxy2
      FROM r GROUP BY u
    )
    SELECT u AS custkey, n_obs, sxy1, sxy2,
           CAST(a * d - b * b AS BIGINT) AS det,
           (CAST(d AS DOUBLE) * sxy1 - CAST(b AS DOUBLE) * sxy2)
             / (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * b) AS w1,
           (CAST(a AS DOUBLE) * sxy2 - CAST(b AS DOUBLE) * sxy1)
             / (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * b) AS w2
    FROM g
    """,
    description="the ALS user half-step in its production shape: item "
    "factors live in a FACTOR TABLE (here derived once per PART row — "
    "the same md5 integers as q_als_user_step, so the two variants are "
    "hash-identical) that is broadcast-joined into the interaction "
    "stream; Gram accumulation and the closed-form 2×2 ridge solve are "
    "unchanged. The oracle inlines the factor table as a CTE over part",
)
def q_als_user_step_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape this variant exists to prove: q_als_user_step
    derives factors per LINE (1.2B md5 evaluations at sf100 — its
    measured residual linearity); here the derivation runs once per
    ITEM (|part| rows, 600× fewer at sf100) and reaches the lines by a
    broadcast hash join — no shuffle of the interaction stream for the
    factor lookup, and the scan-side work per line is a hash-table
    probe instead of two md5s. Everything downstream is identical to
    q_als_user_step: per-order partial Gram fold, then per-user re-sum,
    O(k²) state. At item counts past broadcast reach (rank·|items| >
    executor memory) the same plan swaps the broadcast hint for a
    bucketed/co-partitioned join on the item key — the aggregate
    ordering, which is what the sf100 measurement gates, is unchanged."""
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(_als_factor_sql("alsf1", "p_partkey", "spark")).alias("x1"),
        F.expr(_als_factor_sql("alsf2", "p_partkey", "spark")).alias("x2"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_partkey",
            F.round("l_quantity").cast("bigint").alias("y"),
        )
        .join(F.broadcast(pt), F.col("l_partkey") == pt.p_partkey)
    )
    return _als_solve(o, li)


# ---------------------------------------------------------------------------
# q_target_encoding — leave-one-out mean target encoding (Micci-Barreca
# 2001): the leakage-safe categorical feature every tabular-ML pipeline
# derives, with the row's own target excluded from its encoding
# ---------------------------------------------------------------------------


@query(
    "q_target_encoding",
    oracle="""
    WITH obs AS (
      SELECT o.o_orderkey AS order_key, c.c_mktsegment AS segment,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    seg AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS seg_n,
             CAST(sum(price_cents) AS BIGINT) AS seg_sum
      FROM obs GROUP BY segment
    )
    SELECT obs.order_key, obs.segment,
           CAST(seg.seg_sum - obs.price_cents AS BIGINT) AS loo_sum_cents,
           CAST(seg.seg_n - 1 AS BIGINT) AS loo_n,
           CAST(seg.seg_sum - obs.price_cents AS DOUBLE)
             / (100.0 * (seg.seg_n - 1)) AS te
    FROM obs JOIN seg ON seg.segment = obs.segment
    WHERE seg.seg_n > 1
    """,
    description="leave-one-out mean target encoding (Micci-Barreca 2001): "
    "each order's market segment encoded as the mean order value of the "
    "OTHER orders in that segment — the leakage-safe form of the most "
    "common categorical feature in tabular ML (including the row's own "
    "target is exactly the train-time leak target encoding is infamous "
    "for). LOO needs no per-row window: (Σ_seg − y_row)/(n_seg − 1) "
    "derives every row's encoding from the segment-level sums, all "
    "exact integer cents until the final division",
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the naive formulation windows over each segment
    (corpus/|segments|-sized partitions — the q_rfm hazard). The LOO
    algebra removes the window entirely: ONE partial-aggregated census
    to |segments| rows, broadcast back into a map-side projection —
    every row's leave-one-out encoding is (seg_sum − own)/(seg_n − 1)
    with no per-row state. The census leg folds orders per customer
    BEFORE touching the dimension (a partial-aggregated 150M→15M
    shuffle at sf100), so the segment sums come from a
    customer-sized join; the output leg is one fact join + one
    broadcast, with no corpus-scaled caching anywhere. The output is
    corpus-sized by definition (it IS the feature column), but
    nothing corpus-sized ever sorts, re-shuffles, or pins in
    memory."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    # the census leg pre-aggregates orders per CUSTOMER first (150M→15M at
    # sf100) so the segment census never touches a corpus-scaled join, and
    # the output leg joins orders⋈customer⋈broadcast(census) with nothing
    # cached — the original localCheckpoint pinned the 150M-row joined
    # table in block storage and the third measured decade showed the GC
    # churn (raw 20× across sf10→sf100; the same defect class the decade
    # caught in q_itemsets3)
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("price_cents").alias("ps")
    )
    seg = (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .groupBy("segment")
        .agg(F.sum("pn").alias("seg_n"), F.sum("ps").alias("seg_sum"))
    )
    obs = o.join(c, o.o_custkey == c.c_custkey).select(
        "order_key", "segment", "price_cents"
    )
    return (
        obs.join(F.broadcast(seg), "segment")
        .where(F.col("seg_n") > 1)
        .select(
            "order_key",
            "segment",
            (F.col("seg_sum") - F.col("price_cents")).alias("loo_sum_cents"),
            (F.col("seg_n") - 1).alias("loo_n"),
            (
                (F.col("seg_sum") - F.col("price_cents")).cast("double")
                / (F.lit(100.0) * (F.col("seg_n") - 1))
            ).alias("te"),
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave: CUPED variance reduction, the hashing trick, Huber
# robust location — the experimentation / featurization / robust-stats
# trio of a tabular-ML platform
# ---------------------------------------------------------------------------

CUPED_CUTOFF = "2024-01-25 00:00:00"  # pre-period < cutoff <= post-period


@query(
    "q_cuped_adjust",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('cuped:' || CAST(user_id AS VARCHAR)),
                   1, 8))::BIGINT % 2 AS BIGINT) AS arm,
             CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '{CUPED_CUTOFF}'
                 THEN CAST(round(value * 100) AS BIGINT) END), 0)
                 AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '{CUPED_CUTOFF}'
                 THEN CAST(round(value * 100) AS BIGINT) END), 0)
                 AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS VARCHAR)
                  AS DOUBLE) AS sxy,
             CAST(CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR)
                  AS DOUBLE) AS sxx,
             (CAST(CAST(count(*) AS DECIMAL(38,0))
                   * sum(CAST(x AS DECIMAL(38,0)) * y)
                   - CAST(sum(x) AS DECIMAL(38,0)) * sum(y)
                   AS VARCHAR)::DOUBLE)
             / (CAST(CAST(count(*) AS DECIMAL(38,0))
                     * sum(CAST(x AS DECIMAL(38,0)) * x)
                     - CAST(sum(x) AS DECIMAL(38,0)) * sum(x)
                     AS VARCHAR)::DOUBLE) AS theta
      FROM per_user
    )
    SELECT p.arm, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(p.y) AS DOUBLE) / count(*) / 100.0 AS mean_post,
           CAST(sum(p.x) AS DOUBLE) / count(*) / 100.0 AS mean_pre,
           pooled.theta AS theta,
           (CAST(sum(p.y) AS DOUBLE) / count(*)
            - pooled.theta
              * (CAST(sum(p.x) AS DOUBLE) / count(*)
                 - CAST(pooled.sx AS DOUBLE) / pooled.n)) / 100.0
             AS cuped_mean
    FROM per_user p, pooled
    GROUP BY p.arm, pooled.theta, pooled.sx, pooled.n
    """,
    description="CUPED variance reduction (Deng, Xu, Kohavi & Walker "
    "2013): per experiment arm (md5 parity of user_id — the "
    "deterministic assignment), the post-period mean adjusted by the "
    "pre-period covariate, ŷ_cuped = ȳ_a − θ(x̄_a − x̄), with "
    "θ = cov(X,Y)/var(X) from POOLED exact integer-cent moments in "
    "decimal(38,0) (n·Σxy − ΣxΣy over n·Σxx − (Σx)²) — the standard "
    "sensitivity boost every experimentation platform applies before "
    "the t-test",
)
def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: ONE corpus aggregation to per-user (pre, post)
    integer-cent sums on the natural user_id key (conditional sums, so
    pre-only and post-only users keep zeros — no outer join), then the
    pooled second moments and the per-arm means are both |users|-row
    aggregations with decimal-exact states; θ reaches the arm rollup as
    a broadcast scalar. Nothing in the plan holds per-row state after
    the first fold, and every float is a fixed expression over exact
    integers — the moments would be bit-identical on any partitioning
    of a 100 TB event log."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < F.lit(CUPED_CUTOFF).cast("timestamp"),
                         F.col("cents"))),
            F.lit(0),
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= F.lit(CUPED_CUTOFF).cast("timestamp"),
                         F.col("cents"))),
            F.lit(0),
        ).alias("y"),
    ).select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cuped:"),
                                   F.col("user_id").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint") % 2
        ).alias("arm"),
        "x",
        "y",
    )
    xd = F.col("x").cast("decimal(38,0)")
    nd = F.count(F.lit(1)).cast("decimal(38,0)")
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        (
            (nd * F.sum(xd * F.col("y"))
             - F.sum("x").cast("decimal(38,0)") * F.sum("y"))
            .cast("string").cast("double")
            / (nd * F.sum(xd * F.col("x"))
               - F.sum("x").cast("decimal(38,0)") * F.sum("x"))
            .cast("string").cast("double")
        ).alias("theta"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("y").alias("sy_a"),
        F.sum("x").alias("sx_a"),
    )
    mean_y = F.col("sy_a").cast("double") / F.col("n_users")
    mean_x = F.col("sx_a").cast("double") / F.col("n_users")
    grand_x = F.col("sx").cast("double") / F.col("n")
    return arms.crossJoin(F.broadcast(pooled)).select(
        "arm",
        "n_users",
        (mean_y / 100.0).alias("mean_post"),
        (mean_x / 100.0).alias("mean_pre"),
        "theta",
        ((mean_y - F.col("theta") * (mean_x - grand_x)) / 100.0).alias(
            "cuped_mean"
        ),
    )


FH_DIM = 16  # hashed feature dimension


@query(
    "q_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5('fh:' || tok), 1, 8))::BIGINT % {FH_DIM}
               AS b,
             CASE WHEN ('0x' || substr(md5('fh:' || tok), 9, 1))::BIGINT % 2
                  = 0 THEN 1 ELSE -1 END AS s
      FROM toks WHERE tok <> ''
    )
    SELECT doc_id,
           {", ".join(
               f"CAST(coalesce(sum(CASE WHEN b = {j} THEN s END), 0) "
               f"AS BIGINT) AS f{j:02d}" for j in range(FH_DIM)
           )}
    FROM hashed GROUP BY doc_id
    """,
    description="the hashing trick (Weinberger et al. 2009): every token "
    f"is hashed into one of {FH_DIM} buckets with an md5-derived ±1 "
    "sign (the signed construction that makes collisions cancel in "
    "expectation), producing a fixed-width integer feature vector per "
    "document with NO vocabulary pass — the one-scan featurizer used "
    "when the vocab is unbounded or the pipeline must be stateless",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: vocabulary-free by construction — exactly why
    feature hashing exists at scale: no vocab census, no broadcast
    dictionary, no OOV path; one explode + one doc-keyed partial-agg
    shuffle, and the feature width is a constant 16 columns whatever
    the corpus. The signed variant keeps the hashed dot product an
    unbiased estimator of the true one. Both hash fields come from ONE
    md5 evaluation per token (bucket = hex[1:8], sign = hex[9])."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    h = F.md5(F.concat(F.lit("fh:"), F.col("tok")))
    hashed = toks.select(
        "doc_id",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % FH_DIM)
        .alias("b"),
        F.when(
            F.conv(F.substring(h, 9, 1), 16, 10).cast("bigint") % 2 == 0,
            F.lit(1),
        ).otherwise(F.lit(-1)).alias("s"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("b") == j, F.col("s"))), F.lit(0)
            ).cast("bigint").alias(f"f{j:02d}")
            for j in range(FH_DIM)
        ]
    )


HUBER_DELTA_CENTS = 50_000  # δ = $500: beyond this, influence is capped


def _huber_iter_sql(mu: str) -> str:
    """One IRLS re-weighting in DuckDB SQL: Σwx/Σw with w = min(1, δ/|x−μ|)
    stated as a CASE (no division by zero), decimal-cast sums."""
    w = (
        f"CASE WHEN abs(CAST(cents AS DOUBLE) - {mu}) <= {HUBER_DELTA_CENTS}"
        f" THEN CAST(1 AS DOUBLE) ELSE {HUBER_DELTA_CENTS}"
        f" / abs(CAST(cents AS DOUBLE) - {mu}) END"
    )
    return (
        f"CAST(CAST(sum(CAST({w} * cents AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)"
        f" / CAST(CAST(sum(CAST({w} AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)"
    )


@query(
    "q_huber_mean",
    oracle=f"""
    WITH obs AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    m0 AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS DOUBLE) / count(*) AS mu0
      FROM obs GROUP BY brand
    ),
    m1 AS (
      SELECT obs.brand, {_huber_iter_sql("m0.mu0")} AS mu1
      FROM obs JOIN m0 ON m0.brand = obs.brand
      GROUP BY obs.brand
    ),
    m2 AS (
      SELECT obs.brand, {_huber_iter_sql("m1.mu1")} AS mu2
      FROM obs JOIN m1 ON m1.brand = obs.brand
      GROUP BY obs.brand
    )
    SELECT m0.brand, m0.n,
           m0.mu0 / 100 AS mean_price,
           m1.mu1 / 100 AS huber1,
           m2.mu2 / 100 AS huber2
    FROM m0 JOIN m1 ON m1.brand = m0.brand JOIN m2 ON m2.brand = m0.brand
    """,
    description="Huber robust location (Huber 1964) per brand via two "
    "unrolled IRLS steps from the mean: w = min(1, δ/|x−μ|) caps each "
    "observation's influence at δ = $500, μ' = Σwx/Σw — the outlier-"
    "resistant mean between the mean (δ=∞) and median (δ→0), the "
    "robust aggregate monitoring pipelines use where single corrupt "
    "rows must not move the estimate. Weights are branch-stated (no "
    "division by zero at x=μ); weighted sums are decimal-cast for "
    "order independence",
)
def q_huber_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: IRLS with a FIXED unroll of 2 — each step is one
    column-pruned corpus scan joined to the ≤|brands| broadcast of the
    previous step's estimates, then a partial-aggregated fold to
    |brands| rows; per-group state is two decimals. The corpus stream
    is deliberately re-scanned rather than cached: a corpus-sized
    block-manager pin is the q_itemsets3 OOM lesson, while three
    column-pruned parquet scans are the cheap, spill-free choice at
    any scale. Convergence note: two steps from the mean is the
    documented operating point (monitoring wants a fixed plan, not an
    open loop); the step count is a literal in both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    obs = fan_out(li).join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        F.col("p_brand").alias("brand"), "cents"
    )
    # the ≤|brands| estimate tables are each consumed by LATER stages; each
    # ends in its groupBy exchange, which AQE reuses at every reference, so
    # each IRLS stage executes once: one column-pruned corpus scan per stage
    m0 = obs.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("mu0"),
    )

    def irls(prev: DataFrame, mu_col: str, out_col: str) -> DataFrame:
        j = obs.join(F.broadcast(prev.select("brand", mu_col)), "brand")
        dev = F.abs(F.col("cents").cast("double") - F.col(mu_col))
        w = F.when(dev <= HUBER_DELTA_CENTS, F.lit(1.0)).otherwise(
            F.lit(float(HUBER_DELTA_CENTS)) / dev
        )
        return j.groupBy("brand").agg(
            (
                F.sum((w * F.col("cents")).cast("decimal(28,6)"))
                .cast("string").cast("double")
                / F.sum(w.cast("decimal(28,6)"))
                .cast("string").cast("double")
            ).alias(out_col)
        )

    m1 = irls(m0, "mu0", "mu1")
    m2 = irls(m1, "mu1", "mu2")
    # hint the ≤|brands| estimate tables into the final join explicitly
    return (
        m2.join(F.broadcast(m0), "brand")
        .join(F.broadcast(m1), "brand")
        .select(
            "brand",
            "n",
            (F.col("mu0") / 100).alias("mean_price"),
            (F.col("mu1") / 100).alias("huber1"),
            (F.col("mu2") / 100).alias("huber2"),
        )
    )
