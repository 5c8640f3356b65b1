"""Similarity search over embedding columns (``array<float>``).

Extension mandate: brute-force cosine top-k as the exactness baseline, and
LSH-bucketed / IVF variants as the 100 TB paths. Single-probe scoring is
JVM-side Column expressions (functions/vectors.py); the genuinely hot dense
paths (all-pairs near-dup, Gram matrix) run numpy-blocked Arrow kernels with
a fixed operation order that keeps scores bit-identical to the Column fold
and the DuckDB oracle.

Scale design:
- top-k for one probe = broadcast the probe, single scan + TakeOrdered (no
  shuffle of the corpus);
- kNN for a probe *set* = broadcast the probe set (bounded), one scan of the
  corpus, per-probe window rank on (probe, score) — shuffle carries only
  (probe_id, vec_id, score) rows, never the vectors;
- ANN-LSH = 8 deterministic md5-derived hyperplanes → 256 buckets; corpus is
  hashed map-side; a probe searches its own bucket + all hamming-1 buckets
  (multi-probe), so the candidate set is ~3.5% of the corpus regardless of n.

The exact queries carry full DuckDB oracles: both engines compute the same
left-fold dot product ((0+x1)+x2+... ≡ list_reduce), so scores are
bit-identical and even the float values hash-match.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions import ann_oracle, linalg_oracle
from go_web_mapreduce_spark.functions.ann_config import cluster_count
from go_web_mapreduce_spark.functions.vectors import cosine_similarity
from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin
from go_web_mapreduce_spark.sources.tables import load_table, local_frame

TOP_K = 20
KNN_PROBES = 10  # vec_id < 10 used as the probe set
KNN_K = 3
EMBEDDING_DIM = 64
NUM_HYPERPLANES = 8
NEAR_DUP_COS = 0.5

# DuckDB mirror of the engine's fold-based cosine (bit-identical: both are
# left folds over the same doubles)
_COS_SQL = """
  list_reduce(list_transform(range(len({a})), i -> {a}[i+1]::DOUBLE * {b}[i+1]::DOUBLE),
              (x, y) -> x + y)
  / (sqrt(list_reduce(list_transform({a}, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))
     * sqrt(list_reduce(list_transform({b}, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)))
"""


def _cos_sql(a: str, b: str) -> str:
    return _COS_SQL.format(a=a, b=b)


def cosine_topk(
    corpus: DataFrame, probe: DataFrame, k: int = TOP_K, id_col: str = "vec_id"
) -> DataFrame:
    """Top-k corpus rows by cosine to a single-row probe DataFrame.

    The probe is broadcast (1 row); orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-k, k-row merge, no global sort.
    """
    p = F.broadcast(probe.select(F.col("embedding").alias("probe_vec")))
    scored = corpus.crossJoin(p).select(
        id_col,
        cosine_similarity(F.col("embedding"), F.col("probe_vec")).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


@query(
    "q_similarity_topk",
    oracle=f"""
    WITH probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {_cos_sql("embedding", "pv")} AS score
    FROM embeddings, probe
    ORDER BY score DESC, vec_id LIMIT {TOP_K}
    """,
    description="brute-force cosine top-20 for the vec_id=0 probe "
    "(extension mandate: similarity search)",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") == 0))


def knn_join(
    corpus: DataFrame, probes: DataFrame, k: int = KNN_K, id_col: str = "vec_id"
) -> DataFrame:
    """k nearest corpus neighbors for every probe row (self excluded).

    Probes are broadcast; the shuffle for the rank window carries only
    (query_id, vec_id, score) triples.
    """
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("query_id"), F.col("embedding").alias("probe_vec")
        )
    )
    scored = (
        corpus.crossJoin(p)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            cosine_similarity(F.col("embedding"), F.col("probe_vec")).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


@query(
    "q_similarity_knn",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS query_id, embedding AS pv FROM embeddings WHERE vec_id < {KNN_PROBES}
    ), scored AS (
      SELECT query_id, vec_id, {_cos_sql("embedding", "pv")} AS score
      FROM embeddings, probes
      WHERE vec_id <> query_id
    )
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= {KNN_K}
    """,
    description="exact 3-NN join for a 10-probe set (similarity search baseline)",
)
def q_similarity_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(emb, emb.filter(F.col("vec_id") < KNN_PROBES))


GRID_BLOCK_ROWS = 2048  # target rows per grid block — sizes one kernel task
GRID_MIN_BLOCKS = 16
GRID_MAX_BLOCKS = 256


def grid_num_blocks(corpus: DataFrame, num_blocks: int | None) -> int:
    """Adaptive block count for the exact all-pairs / kNN block grids.

    A FIXED block count is a scale bug, found the hard way: at sf10 (200k
    vectors) 16 blocks means 12.5k-row blocks whose (block_i, block_j)
    kernels are ~2e10-FLOP single-core tasks — the whole cluster waits on a
    handful of stragglers (observed: one worker pinned for 40+ minutes).
    Sizing blocks to ~GRID_BLOCK_ROWS rows keeps each kernel task
    O(BLOCK_ROWS² · dims) regardless of corpus size; the task count grows
    as B(B+1)/2, which is exactly the units the scheduler needs to keep
    every core busy. The count() here is one cheap aggregate job (parquet
    footers serve it without a data scan). Block count never changes
    RESULTS — the grid computes the same exact pair set and the same
    dimension-sequential float64 scores for any B."""
    if num_blocks is not None:
        return num_blocks
    n = corpus.count()
    return int(
        min(GRID_MAX_BLOCKS, max(GRID_MIN_BLOCKS, math.ceil(n / GRID_BLOCK_ROWS)))
    )


_BLK_CACHE_CAP = 4  # unpacked blocks retained per kernel task (tiny LRU)


def _blk_lru(unpack_fn):
    """Bounded per-task unpack cache for the block-grid kernels.

    A task handling one hash partition of the blk_b join can see up to ALL
    partner blocks; an unbounded memo would retain every unpacked float64
    matrix for the whole partition iterator and break the kernels'
    bounded-peak-memory contract at sf10+ (r11 ADVICE). Partner blk_a's for
    a given blk_b arrive in arbitrary order, so a small LRU still captures
    most of the reuse while capping peak unpacked state at
    ``_BLK_CACHE_CAP`` blocks + the live pair.
    """
    from collections import OrderedDict

    cache: OrderedDict = OrderedDict()

    def blk(bid, rows):
        if bid in cache:
            cache.move_to_end(bid)
            return cache[bid]
        out = unpack_fn(rows)
        cache[bid] = out
        if len(cache) > _BLK_CACHE_CAP:
            cache.popitem(last=False)
        return out

    return blk


def _block_grid(corpus: DataFrame, id_col: str, num_blocks: int | None) -> DataFrame:
    """The exact kernels' distributed block nested loop: one
    ``(blk_a, blk_b, rows_a, rows_b)`` row per unordered block pair.

    Vectors hash into :func:`grid_num_blocks` blocks, packed one block per
    row (``groupBy(blk).collect_list``); the left side explodes each block
    *i* against partner keys ``j ∈ [i, B)``, so a plain equi-join on ``j``
    materializes every unordered block pair exactly once. Nothing touches
    the driver (no ``collect()``, no broadcast); shuffle volume is
    corpus_bytes × (B+1)/2, the inherent replication of exact all-pairs —
    the sub-quadratic paths are the LSH and IVF operators below."""
    num_blocks = grid_num_blocks(corpus, num_blocks)
    packed = (
        corpus.select(
            F.pmod(F.hash(F.col(id_col)), F.lit(num_blocks)).alias("blk"),
            F.struct(
                F.col(id_col).alias("id"), F.col("embedding").alias("emb")
            ).alias("s"),
        )
        .groupBy("blk")
        .agg(F.collect_list("s").alias("rows"))
        # always true (pmod of a hash is never NULL), but stated here the
        # join's inferred isnotnull(blk) reaches BOTH sides' scans: without
        # it only the right side carries it, the two packing subplans
        # differ, and AQE reuses neither exchange (two scans, two packs)
        .where(F.col("blk").isNotNull())
    )
    left = packed.select(
        F.col("blk").alias("blk_a"),
        F.col("rows").alias("rows_a"),
        F.explode(F.sequence(F.col("blk"), F.lit(num_blocks - 1))).alias("blk_b"),
    )
    right = packed.select(F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b"))
    return left.join(right, "blk_b").select("blk_a", "blk_b", "rows_a", "rows_b")


def _fold(matT_a, matT_b, outer: bool = True):
    """Σ_i a_i·b_i over dim-major float64 operands, accumulated
    dimension-sequentially: the IDENTICAL IEEE operation order as the Column
    fold and the DuckDB ``list_reduce`` oracle (a BLAS gemm reassociates and
    diverges in the last ulp — measured, not hypothetical), which keeps every
    exact score bit-identical across all three. ``outer`` gives a block
    pair's all-pairs matrix; otherwise column j pairs with column j (the
    norm fold and the IVF survivor rescore). In-place add into a reused
    product buffer saves two allocations per dimension without touching the
    summation order."""
    import numpy as np

    if outer:
        combine, shape = np.multiply.outer, (matT_a.shape[1], matT_b.shape[1])
    else:
        combine, shape = np.multiply, (matT_a.shape[1],)
    acc = np.zeros(shape)
    buf = np.empty_like(acc)
    for a, b in zip(matT_a, matT_b):
        combine(a, b, out=buf)
        acc += buf
    return acc


def _unpack(rows):
    """Packed block → ``(ids, matT, norms)``: ids ascending, ``matT`` the
    dim-major float64 matrix (columns in id order; float32→float64
    widening is exact and vstack copies bits, so the values equal a per-row
    ``list()`` loop's, without its Python loop) and norms from the
    sequential :func:`_fold`. Dim-major keeps each fold step on contiguous
    memory."""
    import numpy as np

    ids = np.fromiter((r["id"] for r in rows), dtype=np.int64, count=len(rows))
    order = np.argsort(ids, kind="stable")
    matT = np.ascontiguousarray(
        np.vstack([r["emb"] for r in rows]).astype(np.float64)[order].T
    )
    return ids[order], matT, np.sqrt(_fold(matT, matT, outer=False))


def _cosine(dots, denom):
    """``dots / denom``, 0 where the denominator is 0: a zero vector scores 0
    against everything, never NaN."""
    import numpy as np

    return np.divide(dots, denom, out=np.zeros_like(dots), where=denom != 0.0)


def _local_topk(ids_q, ids_c, score, k: int):
    """Per row of ``score``: the top-k columns by (score desc, id asc), self
    (equal ids) excluded. Columns are sorted by id, so a STABLE argsort on
    −score breaks ties id-ascending — the total order of
    :func:`_rank_topk`, so every global top-k element survives its local
    cut (the top-k union argument, tie-safe). Returns (row index, column
    index, score); self slots left when a block has ≤ k columns drop out."""
    import numpy as np

    score = np.where(ids_q[:, None] == ids_c[None, :], -np.inf, score)
    kk = min(k, score.shape[1])
    order = np.argsort(-score, axis=1, kind="stable")[:, :kk]
    q = np.repeat(np.arange(len(ids_q)), kk)
    c = order.reshape(-1)
    s = np.take_along_axis(score, order, axis=1).reshape(-1)
    finite = np.isfinite(s)
    return q[finite], c[finite], s[finite]


def _rank_topk(cands: DataFrame, k: int) -> DataFrame:
    """The kNN candidate rank: each ``vec_id``'s first k ``(nbr, score)``
    rows by (score desc, nbr asc), as ``(vec_id, nbr, score, rnk)``."""
    w = W.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("nbr"))
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("vec_id", "nbr", "score", "rnk")
    )


def _grid_map(grid: DataFrame, emit, schema: str) -> DataFrame:
    """Score every block pair of :func:`_block_grid` in one ``mapInPandas``:
    each pair's exact cosine matrix goes to ``emit(ids_a, ids_b, score,
    diagonal)``, which yields output column dicts. Peak memory per task is
    the live pair plus the :func:`_blk_lru` cache."""

    def run(batches):
        import numpy as np
        import pandas as pd

        blk = _blk_lru(_unpack)
        for pdf in batches:
            for rows_a, rows_b, ba, bb in zip(
                pdf["rows_a"], pdf["rows_b"], pdf["blk_a"], pdf["blk_b"]
            ):
                ids_a, matT_a, na = blk(ba, rows_a)
                ids_b, matT_b, nb = blk(bb, rows_b)
                score = _cosine(_fold(matT_a, matT_b), np.outer(na, nb))
                for cols in emit(ids_a, ids_b, score, ba == bb):
                    yield pd.DataFrame(cols)

    return grid.mapInPandas(run, schema)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = NEAR_DUP_COS,
    id_col: str = "vec_id",
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine near-dup: every (a, b) with ``id_a < id_b`` and
    ``cos(a, b) >= threshold``.

    Runs on the shared exact kernel — :func:`_block_grid` (distributed
    block nested loop, nothing touches the driver), :func:`_grid_map` and
    the bit-parity :func:`_fold` — and thresholds each block pair's scores.
    """
    import numpy as np

    def emit(ids_a, ids_b, score, diagonal):
        keep = score >= threshold
        if diagonal:
            # both orientations of a pair lie in the block: upper triangle
            keep &= ids_a[:, None] < ids_b[None, :]
        # off the diagonal each unordered pair appears once, in whichever
        # orientation the hash placed it
        ai, bj = np.nonzero(keep)
        yield {
            "vec_a": np.minimum(ids_a[ai], ids_b[bj]),
            "vec_b": np.maximum(ids_a[ai], ids_b[bj]),
            "score": score[ai, bj],
        }

    return _grid_map(
        _block_grid(corpus, id_col, num_blocks),
        emit,
        "vec_a bigint, vec_b bigint, score double",
    )


@query(
    "q_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_cos_sql("a.embedding", "b.embedding")} AS score
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos_sql("a.embedding", "b.embedding")} >= {NEAR_DUP_COS}
    """,
    description="embedding-cosine near-dup pairs (cos >= 0.5) "
    "(extension mandate: dedup). Exact all-pairs via a fully distributed "
    "block nested loop (packed blocks, equi-join on block pairs, numpy "
    "scoring) — no driver collect, no broadcast; the LSH-bucketed plan "
    "(ann_lsh_buckets) is the 100 TB path.",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb)


def knn_graph(
    corpus: DataFrame,
    k: int = KNN_K,
    id_col: str = "vec_id",
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact k-nearest-neighbor GRAPH: every vector's top-k cosine
    neighbors over the whole corpus — the semantic-dedup / clustering
    primitive (each doc's nearest neighbors feed near-dup grouping and
    diversity sampling).

    Same exact kernel as :func:`embedding_near_dup_pairs`, but each block
    pair emits only each vector's :func:`_local_topk` against the partner
    block, in both orientations, and :func:`_rank_topk` ranks that bounded
    candidate set. Shuffle volume is n·B·k candidate rows instead of the
    n²/2 a materialize-then-rank plan would carry.
    """

    def emit(ids_a, ids_b, score, diagonal):
        sides = [(ids_a, ids_b, score)]
        if not diagonal:
            sides.append((ids_b, ids_a, score.T))
        for ids_q, ids_c, s in sides:
            qi, ci, top = _local_topk(ids_q, ids_c, s, k)
            yield {"vec_id": ids_q[qi], "nbr": ids_c[ci], "score": top}

    cands = _grid_map(
        _block_grid(corpus, id_col, num_blocks),
        emit,
        "vec_id bigint, nbr bigint, score double",
    )
    return _rank_topk(cands, k)


SEMANTIC_COS = 0.35  # looser than NEAR_DUP_COS: the synthetic embeddings
# are weakly correlated, and a dedup-groups demonstration needs real
# multi-member components (271 pairs at sf0.01 vs 1 at 0.5)


@query(
    "q_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_cos_sql("a.embedding", "b.embedding")} >= {SEMANTIC_COS}
    ),
    und AS (
      SELECT pa AS a, pb AS b FROM pairs
      UNION
      SELECT pb, pa FROM pairs
    ),
    reach(x, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.x
    ),
    cc AS (SELECT x AS vec_id, min(r) AS root FROM reach GROUP BY x),
    sz AS (
      SELECT root, CAST(count(*) AS BIGINT) AS group_size
      FROM cc GROUP BY root
    )
    SELECT cc.vec_id, cc.root, sz.group_size,
           CAST(cc.vec_id = cc.root AS BIGINT) AS keep
    FROM cc JOIN sz ON sz.root = cc.root
    """,
    description="end-to-end SEMANTIC dedup: exact cosine near-dup pairs "
    "(distributed block grid) → connected components (min-label "
    "propagation with star fallback) → per-group canonical-keeper "
    "assignment and group sizes — the composition a production corpus "
    "dedup actually runs; the oracle replays the whole chain (cosine "
    "pairs + recursive-CTE components), hash-verified",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.operators.dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    edges = embedding_near_dup_pairs(emb, threshold=SEMANTIC_COS).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    cc = connected_components(edges).select(
        F.col("doc_id").alias("vec_id"), "root"
    )
    sizes = cc.groupBy("root").agg(F.count(F.lit(1)).alias("group_size"))
    return cc.join(sizes, "root").select(
        "vec_id",
        "root",
        "group_size",
        (F.col("vec_id") == F.col("root")).cast("bigint").alias("keep"),
    )


@query(
    "q_knn_graph",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
             {_cos_sql("a.embedding", "b.embedding")} AS score
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, nbr, score,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY score DESC, nbr) AS rnk
    FROM scored
    QUALIFY rnk <= {KNN_K}
    """,
    description="exact k-NN graph: every vector's top-3 cosine neighbors "
    "over the full corpus — blocked all-pairs with per-block-pair local "
    "top-k (shuffle carries n·B·k candidates, never n²/2 pairs), "
    "tie-safe by (score desc, id asc) in kernel, window, and oracle alike",
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_graph(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH buckets (the scale path)
# ---------------------------------------------------------------------------


def _hyperplanes(num: int = NUM_HYPERPLANES, dim: int = EMBEDDING_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (j, i) derives from
    md5(f"{j}:{i}") — reproducible everywhere, no RNG state."""
    planes = []
    for j in range(num):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001) / 1000.0 - 1.0)  # in [-1, 1]
        planes.append(row)
    return planes


def ann_lsh_buckets(
    df: DataFrame, id_col: str = "vec_id", num_planes: int = NUM_HYPERPLANES
) -> DataFrame:
    """Adds a ``bucket`` column: the sign pattern of ``num_planes`` dot
    products — a pure map-side pass (vectors never shuffle)."""
    planes = _hyperplanes(num_planes)
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        d = F.aggregate(
            F.zip_with(F.col("embedding"), lit_plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket)


def _probe_bucket_offsets(radius: int, num_planes: int = NUM_HYPERPLANES) -> list[int]:
    """XOR masks of every bucket within hamming distance <= radius of the
    probe's bucket (C(H,0)+...+C(H,radius) masks — 1, 9, 37 for H=8)."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(num_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def ann_topk_lsh(
    corpus: DataFrame,
    probe: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    radius: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus rows whose bucket is within
    hamming-``radius`` of the probe's bucket (multi-probe LSH). Candidate
    fraction is ~(sum of C(H,0..radius))/2^H of the corpus — independent of
    corpus size. Operating curve (recall@k vs candidate fraction per
    radius) measured in SCALE.md / tools/ann_curves.py."""
    bucketed = ann_lsh_buckets(corpus, id_col)
    p = ann_lsh_buckets(probe, id_col).select(
        F.col("embedding").alias("probe_vec"), F.col("bucket").alias("pb")
    )
    probe_buckets = F.array(
        *[F.col("pb").bitwiseXOR(F.lit(m)) for m in _probe_bucket_offsets(radius)]
    )
    p = F.broadcast(p.select("probe_vec", F.explode(probe_buckets).alias("bucket")))
    cands = bucketed.join(p, "bucket")
    return (
        cands.select(
            id_col,
            cosine_similarity(F.col("embedding"), F.col("probe_vec")).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def _sign_bucket_sql(planes: list[list[float]]) -> str:
    """DuckDB mirror of :func:`ann_lsh_buckets` over ``embedding``: bit j is
    set iff the left-fold dot product with plane j is >= 0."""

    def dot(plane: list[float]) -> str:
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        return (
            "list_reduce(list_transform(range(len(embedding)), "
            f"i -> embedding[i+1]::DOUBLE * {arr}[i+1]), (x, y) -> x + y)"
        )

    return " + ".join(
        f"(CASE WHEN {dot(p)} >= 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )


def _ann_lsh_oracle() -> str:
    """Full DuckDB oracle for the ANN-LSH pipeline. The hyperplanes are
    md5-derived constants, so the entire candidate generation (sign buckets,
    hamming-1 multi-probe) and scoring replicate exactly in SQL: both
    engines compute the identical left-fold dot products over the identical
    literal planes, so bucket assignments and scores are bit-identical —
    'approximate' here means approximate vs exact top-k, not
    nondeterministic."""
    planes = _hyperplanes()
    bucket_expr = _sign_bucket_sql(planes)
    probe_buckets = ", ".join(
        ["pb"] + [f"xor(pb, {1 << j})" for j in range(len(planes))]
    )
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, ({bucket_expr}) AS bucket FROM embeddings
    ), probe AS (
      SELECT embedding AS pv, bucket AS pb FROM bucketed WHERE vec_id = 0
    ), cands AS (
      SELECT b.vec_id, b.embedding, p.pv
      FROM bucketed b, probe p
      WHERE b.bucket IN ({probe_buckets})
    )
    SELECT vec_id, {_cos_sql("embedding", "pv")} AS score
    FROM cands
    ORDER BY score DESC, vec_id LIMIT {TOP_K}
    """


@query(
    "q_similarity_ann_lsh",
    oracle=_ann_lsh_oracle(),  # deterministic md5-derived hyperplanes →
    # the full candidate→score pipeline replicates in SQL (hash-verified);
    # recall vs exact top-k is measured separately in tests/test_ann.py
    description="ANN top-20 via multi-probe random-hyperplane LSH, with a "
    "full SQL oracle (deterministic hyperplanes make buckets and scores "
    "bit-replicable in DuckDB). Candidate fraction is corpus-size-"
    "independent, but recall is bounded by how separated true neighbors "
    "are from the bulk — on weakly-separated embeddings prefer the IVF "
    "path (q_similarity_ivf); both measured in tests/test_ann.py",
)
def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, emb.filter(F.col("vec_id") == 0))


LSH_DEDUP_PLANES = 16  # sign bits for the banded near-dup candidate join
LSH_DEDUP_BANDS = 2  # 2 bands x 8 bits: complete for hamming distance <= 1


def embedding_near_dup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = NEAR_DUP_COS,
    id_col: str = "vec_id",
    num_planes: int = LSH_DEDUP_PLANES,
    bands: int = LSH_DEDUP_BANDS,
) -> DataFrame:
    """Sub-quadratic near-dup pairs: the LSH-BUCKETED scale path for
    :func:`embedding_near_dup_pairs` (sign-LSH
    banding + per-candidate exact verification) — the SimHash/MinHash
    banding trick applied to the embedding domain (Charikar 2002 sign
    hashes + the LSH banding construction, Mining of Massive Datasets
    ch. 3; both public).

    Candidate generation: each vector's ``num_planes``-bit sign signature
    splits into ``bands`` disjoint bands; a pair becomes a candidate iff
    some band agrees exactly (band equi-join — by pigeonhole, complete
    for signature hamming distance <= bands-1). Candidates are re-scored
    with the EXACT fold cosine and thresholded, so precision is 1.0 by
    construction; recall follows the banding S-curve
    ``1-(1-p^r)^b`` with ``p = 1 - arccos(cos)/pi`` — measured against
    planted ground truth in tools/dedup_quality.py / SCALE.md.

    Scale shape: signatures are one map-side pass (vectors never shuffle
    for candidate generation — only (id, band) longs do); the distinct
    candidate set joins vectors back for the exact re-score, touching
    candidate-fraction x corpus bytes instead of the exact plan's
    (B+1)/2-fold replication. Raise ``num_planes``/``bands`` to trade
    recall for candidate volume at 100 TB.
    """
    sig = ann_lsh_buckets(corpus, id_col, num_planes)
    width = num_planes // bands
    mask = (1 << width) - 1
    exploded = sig.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.shiftright(F.col("bucket"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("id", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("vec_a"), F.col("b.id").alias("vec_b"))
        .distinct()
    )
    ea = corpus.select(F.col(id_col).alias("vec_a"), F.col("embedding").alias("ea"))
    eb = corpus.select(F.col(id_col).alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine_similarity(F.col("ea"), F.col("eb")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _lsh_near_dup_oracle() -> str:
    """Full DuckDB oracle for the banded LSH near-dup path: md5-derived
    hyperplanes are literals, so signatures, band values, the candidate
    join, and the exact fold-cosine re-score all replicate bit-identically
    (the _ann_lsh_oracle discipline applied to the pair join)."""
    planes = _hyperplanes(LSH_DEDUP_PLANES)
    width = LSH_DEDUP_PLANES // LSH_DEDUP_BANDS
    mask = (1 << width) - 1
    return f"""
    WITH sig AS (
      SELECT vec_id, ({_sign_bucket_sql(planes)}) AS bucket FROM embeddings
    ), bnd AS (
      SELECT vec_id, t.bi, (bucket >> (t.bi * {width})) & {mask} AS bv
      FROM sig, range(0, {LSH_DEDUP_BANDS}) t(bi)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bnd a JOIN bnd b
        ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id < b.vec_id
    )
    SELECT * FROM (
      SELECT c.vec_a, c.vec_b,
             {_cos_sql("ea.embedding", "eb.embedding")} AS score
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
    ) s WHERE score >= {SEMANTIC_COS}
    """


@query(
    "q_dedup_embedding_lsh",
    oracle=_lsh_near_dup_oracle(),
    description="embedding near-dup pairs via sign-LSH banding (16-bit "
    "signatures, 2x8-bit bands, band equi-join, exact fold-cosine "
    "re-score) — the sub-quadratic 100 TB path for q_dedup_embedding; "
    "precision 1.0 by construction, recall = the banding S-curve, "
    "measured against planted vector ground truth (tools/dedup_quality"
    ".py); hash-verified (deterministic md5 hyperplanes replay in SQL)",
    variant_of="q_dedup_embedding",
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # registered at the SEMANTIC_COS threshold (like q_semantic_dedup's
    # edge set) so the demonstration corpus yields a non-trivial pair set;
    # the operator itself defaults to NEAR_DUP_COS like the exact plan
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_lsh(emb, threshold=SEMANTIC_COS)



# ---------------------------------------------------------------------------
# ANN: IVF (inverted file / coarse quantizer) — the preferred scale path
# ---------------------------------------------------------------------------

IVF_CENTROIDS = 32
IVF_NPROBE = 8


IVF_TRAIN_SAMPLE_CAP = 100_000  # rows the quantizer trains on, corpus-size-independent


def ivf_assign(
    corpus: DataFrame,
    num_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    max_iter: int = 10,
    train_sample_cap: int = IVF_TRAIN_SAMPLE_CAP,
    total_rows: int | None = None,
):
    """Train a coarse quantizer and assign every corpus vector to its
    nearest centroid — the IVF partitioning step (Jégou et al. 2011,
    public). Training runs DRIVER-SIDE: a content-deterministic capped
    sample is collected and Lloyd iterations run in numpy; only the
    map-side frozen assignment (:func:`ivf_assign_frozen`) sees every
    vector.

    Returns ``(assigned_df, centroids)``: the corpus with a ``cid`` column
    (assignment is a map-side Arrow pass — vectors never shuffle) and
    the centroid matrix as a plain list (C×dim floats — driver-tiny).

    Training cost discipline: a coarse quantizer only partitions space — it
    does not need a converged clustering, and it does not need the corpus.
    Training collects a CONTENT-DETERMINISTIC capped sample
    (``orderBy(md5(cast(id as string))) limit cap`` — the pq_train
    discipline, so centroids never depend on partition layout or cluster
    size) and runs Lloyd iterations driver-side in numpy: the sample is
    ≤ sample_cap×dim doubles (~50 MB at the default cap) and the distance
    matrix uses the n×k expansion trick, so training is one Spark action
    total instead of ~3 jobs per MLlib iteration (rewritten in round 5:
    the MLlib fit's ~30 tiny jobs dominated the inline ANN queries at test
    SFs and its ``sample()`` selection was layout-dependent). Recall vs
    exact is what's asserted (tests/test_ann.py), not inertia.

    Every step is engine-portable (round 6): the sample key is md5 of the
    id string (identical in Spark and DuckDB), initialization is the first
    ``num_centroids`` hash-ordered sample rows (hash order is content-
    random, so this is random init without an RNG), and an empty cluster
    keeps its previous centroid — which is why the DuckDB oracles for the
    IVF-family queries can replay the whole training as unrolled CTEs
    (functions/ann_oracle.py) and hash-verify the results.
    """
    import numpy as np

    n = total_rows if total_rows is not None else corpus.count()
    samp = corpus.select(
        "embedding", F.md5(F.col(id_col).cast("string")).alias("__hk")
    ).orderBy("__hk")
    if n > train_sample_cap:
        samp = samp.limit(train_sample_cap)
    X = np.array([r["embedding"] for r in samp.collect()], dtype=np.float64)
    if len(X) < num_centroids:
        raise ValueError(
            f"ivf_assign: {len(X)} training vectors < {num_centroids} "
            "centroids — lower num_centroids"
        )
    C = X[:num_centroids].copy()
    for _ in range(max_iter):
        # n×k squared distances via the expansion trick — never n×k×dim
        d = (
            (X * X).sum(1)[:, None]
            - 2.0 * X @ C.T
            + (C * C).sum(1)[None, :]
        )
        a = d.argmin(1)
        for j in range(num_centroids):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    centroids = [[float(x) for x in c] for c in C]
    assigned = ivf_assign_frozen(corpus, centroids, id_col)
    return assigned, centroids


def ivf_assign_frozen(
    vectors: DataFrame, centroids: list[list[float]], id_col: str = "vec_id"
) -> DataFrame:
    """Assign vectors to the nearest of FROZEN centroids (Euclidean argmin,
    the KMeans.transform metric) — a map-side Arrow pass, no training, no
    shuffle."""
    import numpy as np
    import pandas as pd

    cent = np.array(centroids, dtype=np.float64)
    cn = (cent * cent).sum(1)

    @F.pandas_udf("int")
    def assign(col):
        X = np.array(col.tolist(), dtype=np.float64)
        d = (X * X).sum(1)[:, None] - 2.0 * X @ cent.T + cn[None, :]
        return pd.Series(d.argmin(1).astype("int32"))

    return vectors.select(id_col, "embedding", assign("embedding").alias("cid"))


def ivf_topk(
    corpus: DataFrame,
    probe: DataFrame,
    k: int = TOP_K,
    num_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: exact cosine over only the ``nprobe`` inverted
    lists nearest the probe. Candidate set ≈ nprobe/num_centroids of the
    corpus; recall tracks the data's cluster structure (measured in
    tests/test_ann.py) — far better than sign-LSH when neighbors are only
    weakly separated from the bulk."""
    assigned, centroids = ivf_assign(corpus, num_centroids, id_col=id_col)
    top_c = _nearest_centroids(probe, centroids, nprobe)
    cands = assigned.filter(F.col("cid").isin(top_c))
    return cosine_topk(cands.select(id_col, "embedding"), probe, k, id_col)


def _nearest_centroids(
    probe: DataFrame, centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The nprobe centroid ids nearest (by cosine) to the single-row probe —
    a C×dim driver computation, the only non-distributed step of IVF."""
    pv = [float(x) for x in probe.select("embedding").first()["embedding"]]

    def cos(c: list[float]) -> float:
        num = sum(a * b for a, b in zip(c, pv))
        na = sum(a * a for a in c) ** 0.5
        nb = sum(b * b for b in pv) ** 0.5
        return num / (na * nb) if na and nb else 0.0

    return [
        int(i)
        for i in sorted(range(len(centroids)), key=lambda i: -cos(centroids[i]))[
            :nprobe
        ]
    ]


@query(
    "q_similarity_ivf",
    # FULL SQL oracle (round 6): training is engine-portable (md5 sample
    # key, first-k init, fixed 10 Lloyd steps), so DuckDB replays the whole
    # train → assign → nprobe-prune → exact-rerank pipeline as unrolled CTEs
    oracle=ann_oracle.ivf_oracle(
        dim=EMBEDDING_DIM, k=IVF_CENTROIDS, iters=10,
        cap=IVF_TRAIN_SAMPLE_CAP, nprobe=IVF_NPROBE, top_k=TOP_K,
    ),
    description="ANN top-20 via IVF coarse quantizer (sample-trained k-means "
    "partitioning + nprobe inverted-list scan) — the preferred 100 TB "
    "similarity path; recall vs exact measured in tests/test_ann.py; "
    "hash-verified against a DuckDB oracle that replays the training as "
    "unrolled Lloyd CTEs (functions/ann_oracle.py); defaults are one "
    "measured operating point — functions/ann_config.pick_config(target) "
    "returns the cheapest config for any recall target (nprobe=16 "
    "reaches 0.835)",
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") == 0))


KNN_IVF_APROBE = 4  # lists each vector searches when building the graph


def knn_graph_ivf(
    corpus: DataFrame,
    k: int = KNN_K,
    num_centroids: int = IVF_CENTROIDS,
    aprobe: int = KNN_IVF_APROBE,
    id_col: str = "vec_id",
    index_shards: int = 1,
) -> DataFrame:
    """Approximate kNN graph via IVF lists — the sub-quadratic scale path
    for :func:`knn_graph` (which is Θ(n²·d) by definition and measured so
    in SCALE.md).

    Every vector is INDEXED in its nearest list and SEARCHES its
    ``aprobe`` nearest lists (multi-assignment on the query side only —
    Jégou et al.'s IVF search applied symmetrically to graph
    construction). Work is Σ_lists |queries_l|·|index_l|·d ≈
    n·(n/C)·aprobe·d — a 1/C fraction of brute force at equal d — and the
    shuffle carries packed per-list blocks plus n·aprobe·k candidate
    rows. Measured edge recall vs the exact graph at sf0.1 (weakly
    clustered synthetic embeddings, C=32): aprobe 2 → 0.31, 4 → 0.46,
    6 → 0.57, 8 → 0.66 — linear in the candidate fraction aprobe/C, the
    knob a user turns (floor pinned in tests/test_ann.py).

    Determinism and parity: lists unpack id-sorted (:func:`_unpack`),
    selection is :func:`_local_topk` and the rank :func:`_rank_topk`, the
    exact graph's (score desc, id asc) order; emitted scores come from the
    sequential :func:`_fold`, so they are bit-identical to the Column fold
    and the DuckDB oracle.

    Row-size bound: each packed list row is ~(n/C)·dim doubles, so C must
    scale with the corpus to keep a list inside a task (and under the 2 GB
    array limit). ``index_shards`` bounds it orthogonally: the INDEX side
    of each list splits into ``index_shards`` hash shards (the query side
    joins all shards of a probed list), dividing peak row size by the
    shard count with identical results — at 100 TB set both C ∝ n and
    shards so a shard holds ~10⁴ vectors."""
    import numpy as np
    import pandas as pd

    assigned, centroids = ivf_assign(corpus, num_centroids, id_col=id_col)
    cent = np.array(centroids, dtype=np.float64)
    cn = (cent * cent).sum(1)

    @F.pandas_udf("array<int>")
    def probe_lists(col):
        X = np.array(col.tolist(), dtype=np.float64)
        # Euclidean, matching KMeans assignment: argsort of ||x-c||²
        d = (X * X).sum(1)[:, None] - 2.0 * X @ cent.T + cn[None, :]
        order = np.argsort(d, axis=1, kind="stable")[:, :aprobe]
        return pd.Series([[int(c) for c in row] for row in order])

    member = F.struct(F.col(id_col).alias("id"), F.col("embedding").alias("emb"))
    qpacked = (
        corpus.select(member.alias("s"), F.explode(probe_lists("embedding")).alias("cid"))
        .groupBy("cid")
        .agg(F.collect_list("s").alias("qrows"))
    )
    ipacked = (
        assigned.select(
            "cid",
            F.pmod(F.hash(F.col(id_col)), F.lit(index_shards)).alias("shard"),
            member.alias("s"),
        )
        .groupBy("cid", "shard")
        .agg(F.collect_list("s").alias("irows"))
    )
    # query side joins every shard of a probed list; a (vec, nbr) pair still
    # arises exactly once (nbr lives in one shard of its one list)
    joined = qpacked.join(ipacked, "cid")

    def score_lists(batches):
        for pdf in batches:
            for qrows, irows in zip(pdf["qrows"], pdf["irows"]):
                qi, qT, qn = _unpack(qrows)
                ii, iT, inn = _unpack(irows)
                # SELECTION uses one BLAS gemm on row-major copies (a 64-pass
                # dimension-sequential outer-product loop was measured
                # memory-bandwidth-bound at sf10 — ~GBs of traffic per
                # list); the EMITTED scores of the selected n·k pairs are
                # then recomputed with the sequential fold, so output values
                # stay bit-identical to the Column fold / DuckDB oracle.
                # Selection-order ties between the two float forms differ
                # only below ~1e-15 — the measure-zero class the ANN
                # oracles already accept (functions/ann_oracle.py).
                qm, im = np.ascontiguousarray(qT.T), np.ascontiguousarray(iT.T)
                denom = np.outer(
                    np.linalg.norm(qm, axis=1), np.linalg.norm(im, axis=1)
                )
                q_idx, c_idx, _ = _local_topk(qi, ii, _cosine(qm @ im.T, denom), k)
                # fold-exact rescore of the survivors only (n·k pairs)
                dots = _fold(qT[:, q_idx], iT[:, c_idx], outer=False)
                yield pd.DataFrame(
                    {
                        "vec_id": qi[q_idx],
                        "nbr": ii[c_idx],
                        "score": _cosine(dots, qn[q_idx] * inn[c_idx]),
                    }
                )

    # no dedup needed: the index side is single-assignment, so a (vec, nbr)
    # pair can only arise from the one list that indexes nbr
    cands = joined.mapInPandas(
        score_lists, "vec_id bigint, nbr bigint, score double"
    )
    return _rank_topk(cands, k)


@query(
    "q_knn_graph_ivf",
    # FULL SQL oracle (round 6): portable training + fold-parity scores
    oracle=ann_oracle.knn_graph_ivf_oracle(
        dim=EMBEDDING_DIM, k=IVF_CENTROIDS, iters=10,
        cap=IVF_TRAIN_SAMPLE_CAP, aprobe=KNN_IVF_APROBE, graph_k=KNN_K,
    ),
    description="approximate kNN graph via IVF lists: each vector indexed "
    "in its nearest list, searching its aprobe=4 nearest lists — work is "
    "an aprobe/C fraction of the exact graph's brute force (the Θ(n²·d) "
    "baseline q_knn_graph, measured superlinear in SCALE.md, exists for "
    "verification; THIS is the shape that builds the graph at 100 TB); "
    "per-list numpy block kernels, deterministic tie-broken ranks",
)
def q_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph_ivf(emb)


# the 200k-vector (sf10) operating point, EMITTED by the executable C
# rule rather than hard-coded (round 11): cluster_count anchors on this
# very measurement, so the value is 256 — test_ann_config.py pins both
# the equality and the literal so a rule change cannot silently move
# this registered, hash-verified query
KNN_IVF_SCALED_CENTROIDS = cluster_count(200_000)


@query(
    "q_knn_graph_ivf_scaled",
    oracle=ann_oracle.knn_graph_ivf_oracle(
        dim=EMBEDDING_DIM, k=KNN_IVF_SCALED_CENTROIDS, iters=10,
        cap=IVF_TRAIN_SAMPLE_CAP, aprobe=KNN_IVF_APROBE, graph_k=KNN_K,
    ),
    description="the kNN-graph-via-IVF SCALE configuration: identical "
    "pipeline at C=256 centroids — graph construction work is "
    "n·(n/C)·aprobe·d, so C MUST grow with the corpus (the standard "
    "IVF √n prescription; the C=32 default measured exp 1.90 sf1→sf10 "
    "while C=256 stays sublinear — SCALE.md); same unrolled-Lloyd "
    "oracle machinery, hash-verified",
    variant_of="q_knn_graph_ivf",
)
def q_knn_graph_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C=256 point of the C-must-scale-with-n rule. At the test SFs
    the sample (≥500 rows) still exceeds C, so training is well-posed;
    recall at equal aprobe is slightly lower per probe-list (narrower
    lists) — the aprobe/C candidate-fraction tradeoff the docstring of
    :func:`knn_graph_ivf` states."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph_ivf(emb, num_centroids=KNN_IVF_SCALED_CENTROIDS)


# ---------------------------------------------------------------------------
# SVD / PCA top component — the reference's named "SVD" workload
# ---------------------------------------------------------------------------


def gram_matrix(corpus: DataFrame, col: str = "embedding", dim: int = EMBEDDING_DIM):
    """X^T X of the embedding matrix in ONE distributed pass.

    Each Arrow batch contributes a dim×dim partial Gram (numpy ``X^T X`` on
    the batch); the driver sums the per-batch partials — ~(rows/batch) tiny
    matrices, never the corpus. This is the classic MapReduce formulation of
    SVD/PCA for tall-skinny matrices (reference names 'SVD' among its
    intended workloads — presentation.pptx, "What is MapReduce?" slide):
    the O(n·dim²) work distributes, the O(dim³) eigensolve is driver-side on
    a dim×dim matrix. Scales to any row count; dim is the bound (dim ≲ 10⁴).
    """
    import numpy as np
    import pandas as pd

    def partial(batches):
        acc = np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf):
                x = np.array(list(pdf[col]), dtype=np.float64)
                acc += x.T @ x
        yield pd.DataFrame({"g": [acc.reshape(-1).tolist()]})

    parts = corpus.select(col).mapInPandas(partial, "g array<double>").collect()
    total = np.zeros((dim, dim))
    for r in parts:
        total += np.array(r["g"], dtype=np.float64).reshape(dim, dim)
    return total


def top_component_power(G, squarings: int = linalg_oracle.SVD_SQUARINGS):
    """Top eigenvector of SPD ``G`` by the power method with repeated
    squaring — the engine-portable eigensolve that
    functions/linalg_oracle.svd_oracle replays in SQL.

    ``s`` max-rescaled squarings give the G^(2^s) direction in ``s``
    dim×dim matmuls; with the measured near-isotropic embedding spectrum
    (lambda2/lambda1 = 0.984) the 2^10 = 1024 effective iterations leave a
    residual ~6e-8 vs the true component (asserted against
    ``np.linalg.eigh`` in tests/test_ann.py) while plain power iteration
    would need ~900 sequential steps. Every step is a normalized matmul —
    a stable map, so the ~1e-15 cross-engine Gram drift is NOT amplified
    (measured loading agreement 3e-15, six orders inside the correctness
    gate's 6-decimal rounding).

    Returns ``(v, lam, trace)``: the unit top component with the
    largest-|entry|-positive sign convention, its Rayleigh quotient, and
    trace(G).
    """
    import numpy as np

    tr = float(np.trace(G))
    j = int(np.argmax(np.diag(G)))  # deterministic start basis vector
    M = G / np.max(np.abs(G))
    for _ in range(squarings):
        M = M @ M
        M = M / np.max(np.abs(M))
    v = M[:, j].copy()
    v = v / np.linalg.norm(v)
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    lam = float(v @ G @ v)
    return v, lam, tr


@query(
    "q_svd_top_component",
    oracle=linalg_oracle.svd_oracle(EMBEDDING_DIM),
    description="top principal component of the embedding corpus: one "
    "distributed pass builds the dim×dim Gram matrix (per-batch numpy "
    "partials, driver merge), then a fixed-squaring-count power method "
    "(G^1024 via 10 max-rescaled 64×64 squarings) solves the dim-sized "
    "eigenproblem locally — the tall-skinny SVD pattern for the "
    "reference's named 'SVD' workload, hash-verified because the DuckDB "
    "oracle replays the identical squaring schedule "
    "(functions/linalg_oracle.py); convergence vs np.linalg.eigh is "
    "asserted in tests/test_ann.py",
)
def q_svd_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    g = gram_matrix(emb)
    top, lam, tr = top_component_power(g)
    sv = float(np.sqrt(max(lam, 0.0)))
    explained = float(lam / tr) if tr > 0 else 0.0
    rows = [
        (int(i), float(top[i]), sv, explained) for i in range(len(top))
    ]
    return local_frame(
        emb.sparkSession,
        rows,
        "component bigint, loading double, singular_value double, explained_variance double",
    )


@query(
    "q_svd_topk",
    oracle=linalg_oracle.svd_topk_oracle(EMBEDDING_DIM),
    description=f"top-{linalg_oracle.SVD_TOPK} principal components (the "
    "PCA/LSA subspace of the embedding corpus): the q_svd_top_component "
    "distributed Gram pass, then repeated squaring with Hotelling "
    "deflation between components (G_c+1 = G_c − λ_c v_c v_cᵀ, λ_c the "
    "Rayleigh quotient on the ORIGINAL Gram so explained-variance shares "
    f"partition the trace); 2^{linalg_oracle.SVD_TOPK_SQUARINGS} "
    "effective iterations per component drive each to machine precision "
    "even through the Marchenko-Pastur bulk's 0.99+ eigenvalue ratios — "
    "hash-verified because the DuckDB oracle replays the identical "
    "schedule; eigh alignment and orthogonality asserted in "
    "tests/test_ann.py",
)
def q_svd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    g0 = gram_matrix(emb)
    tr = float(np.trace(g0))
    g = g0.copy()
    rows = []
    for c in range(1, linalg_oracle.SVD_TOPK + 1):
        v, _, _ = top_component_power(
            g, squarings=linalg_oracle.SVD_TOPK_SQUARINGS
        )
        lam = float(v @ g0 @ v)
        sv = float(np.sqrt(max(lam, 0.0)))
        explained = float(lam / tr) if tr > 0 else 0.0
        rows += [
            (c, int(i), float(v[i]), sv, explained) for i in range(len(v))
        ]
        g = g - lam * np.outer(v, v)
    return local_frame(
        emb.sparkSession,
        rows,
        "comp bigint, component bigint, loading double, "
        "singular_value double, explained_variance double",
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN (Jégou et al. 2011)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64-dim → 8 sub-vectors of 8 dims)
PQ_KSUB = 16  # centroids per subspace → 4-bit codes, 8 bytes per vector (32×)
PQ_TRAIN_CAP = 2048  # driver-side training sample cap (rows)
PQ_SHORTLIST = 100  # ADC shortlist size before exact rerank


def _pq_lloyd(X, k: int, iters: int):
    """Tiny deterministic Lloyd k-means on a (n, dsub) numpy block — the
    per-subspace codebook trainer. n ≤ PQ_TRAIN_CAP, k = 16, dsub = 8: the
    whole training is microseconds of driver numpy; the corpus never
    participates (the same coarse-quantizer discipline as ivf_assign).
    Init = first k rows (X arrives hash-ordered, i.e. content-random) and
    empty clusters keep their previous centroid — both engine-portable so
    the DuckDB oracle (functions/ann_oracle.py) replays this exactly."""

    if len(X) < k:
        raise ValueError(
            f"PQ codebook training needs at least ksub={k} sample vectors "
            f"per subspace but got {len(X)}; grow the corpus/sample_cap or "
            "lower ksub"
        )
    C = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(k):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    return C


def _normalize_rows(X):
    import numpy as np

    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return X / n


def pq_train(
    corpus: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    sample_cap: int = PQ_TRAIN_CAP,
    iters: int = 15,
    id_col: str = "vec_id",
    normalize: bool = True,
):
    """Train PQ codebooks on a content-deterministic capped sample: returns
    a numpy array of shape (m, ksub, dim/m). Vectors are L2-normalized
    before splitting so the ADC inner product approximates cosine. Driver
    memory is bounded by ``sample_cap`` rows regardless of corpus size.

    Sample selection is by id-hash order (``orderBy(md5(cast(id as
    string)))`` + limit → TakeOrdered), so the training set — and therefore
    codebooks, codes, and search results — depends only on the data's
    CONTENT, never on partition layout or cluster size (a seeded
    ``sample().limit()`` would take whichever rows arrived first). md5 of
    the id string computes identically in DuckDB, and init/empty-cluster
    rules are portable (see :func:`_pq_lloyd`), so the PQ-family oracles
    replay this training verbatim in SQL (functions/ann_oracle.py)."""
    import numpy as np

    n = corpus.count()
    samp = corpus.select(
        "embedding", F.md5(F.col(id_col).cast("string")).alias("__hk")
    ).orderBy("__hk")
    if n > sample_cap:
        samp = samp.limit(sample_cap)
    X = np.array([r["embedding"] for r in samp.collect()], dtype=np.float64)
    if normalize:  # residual IVFPQ trains on raw residuals — no re-norm
        X = _normalize_rows(X)
    dsub = X.shape[1] // m
    return np.stack(
        [
            _pq_lloyd(X[:, j * dsub : (j + 1) * dsub], ksub, iters)
            for j in range(m)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    normalize: bool = True,
    keep_cols: list[str] | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side PQ encoding: each vector → ``m`` centroid indices
    (array<int>). An Arrow-batched pandas UDF (vectorized argmin per
    subspace); no shuffle — at 100 TB this is one scan writing 8-byte codes,
    the 32× compression that lets the ADC scan live in memory.
    ``normalize=False`` + ``vec_col`` serve the residual-IVFPQ path;
    ``keep_cols`` carries extra columns (e.g. the IVF list id) through."""
    import numpy as np
    import pandas as pd

    m, ksub, dsub = codebooks.shape
    cb = codebooks  # captured in the closure, broadcast with the task

    @F.pandas_udf("array<int>")
    def encode(col):
        out = []
        X = np.array(col.tolist(), dtype=np.float64)
        if normalize:
            X = _normalize_rows(X)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            sub = X[:, j * dsub : (j + 1) * dsub]
            # (n, ksub) squared distances via the expansion trick
            d = (
                (sub * sub).sum(1)[:, None]
                - 2.0 * sub @ cb[j].T
                + (cb[j] * cb[j]).sum(1)[None, :]
            )
            codes[:, j] = d.argmin(1)
        for row in codes:
            out.append([int(c) for c in row])
        return pd.Series(out)

    return corpus.select(
        id_col, *(keep_cols or []), encode(vec_col).alias("codes")
    )


def pq_adc_score(codes_col, codebooks, probe_vec) -> "F.Column":
    """Asymmetric-distance score as a pure Column expression: the probe is
    pre-folded into an m×ksub lookup table of sub-dot-products (a 128-double
    literal), and each vector's score is a codes-indexed gather-sum — no
    Python per row, whole-stage codegen over the codes table."""
    import numpy as np

    m, ksub, dsub = codebooks.shape
    pv = _normalize_rows(np.array([probe_vec], dtype=np.float64))[0]
    lut = [
        float(np.dot(pv[j * dsub : (j + 1) * dsub], codebooks[j][c]))
        for j in range(m)
        for c in range(ksub)
    ]
    lut_arr = F.array(*[F.lit(v) for v in lut])
    gathered = F.transform(
        codes_col, lambda c, i: F.element_at(lut_arr, (i * ksub + c + 1).cast("int"))
    )
    return F.aggregate(gathered, F.lit(0.0), lambda acc, x: acc + x)


def pq_topk(
    corpus: DataFrame,
    probe: DataFrame,
    k: int = TOP_K,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """Two-stage compressed-domain ANN: ADC over PQ codes shortlists
    ``shortlist`` candidates (TakeOrdered — per-partition heap on 8-byte
    codes), then an exact cosine rerank touches only the shortlist's full
    vectors (broadcast semi-join). The corpus's full vectors are read once
    for encoding and once for ``shortlist`` rows — never shuffled.
    ``m``/``ksub`` trade code size for ADC fidelity — operating curve in
    SCALE.md (tools/ann_curves.py)."""
    cb = pq_train(corpus, m=m, ksub=ksub)
    codes = pq_encode(corpus, cb, id_col)
    pv = [float(x) for x in probe.select("embedding").first()["embedding"]]
    short = (
        codes.select(id_col, pq_adc_score(F.col("codes"), cb, pv).alias("adc"))
        .orderBy(F.col("adc").desc(), F.col(id_col))
        .limit(shortlist)
    )
    cands = corpus.join(F.broadcast(short.select(id_col)), id_col)
    return cosine_topk(cands.select(id_col, "embedding"), probe, k, id_col)


@query(
    "q_similarity_pq",
    # FULL SQL oracle (round 6): codebook training replayed per subspace
    oracle=ann_oracle.pq_oracle(
        dim=EMBEDDING_DIM, m=PQ_M, ksub=PQ_KSUB, iters=15,
        cap=PQ_TRAIN_CAP, shortlist=PQ_SHORTLIST, top_k=TOP_K,
    ),
    description="ANN top-20 via product quantization: sample-trained "
    "per-subspace codebooks, map-side 4-bit encoding (32× compression), "
    "codegen ADC gather-sum shortlist, exact rerank of the shortlist only — "
    "the compressed-domain 100 TB similarity path; "
    "pick_config(target) in functions/ann_config.py maps a recall target "
    "to the cheapest measured (shortlist, m, ksub) — m=16 hits 0.87 at "
    "the default shortlist",
)
def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") == 0))


# ---------------------------------------------------------------------------
# ANN: IVFPQ — the composed production layout (Jégou et al. 2011)
# ---------------------------------------------------------------------------


def ivfpq_topk(
    corpus: DataFrame,
    probe: DataFrame,
    k: int = TOP_K,
    num_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF + residual PQ — the standard billion-scale ANN index layout
    (Jégou et al. 2011, §IV; public): the coarse quantizer prunes to
    ``nprobe`` inverted lists, PQ codes store each vector's RESIDUAL from
    its list centroid, and a probe's score decomposes exactly as

        ⟨p̂, x̂⟩ = ⟨p̂, c(x)⟩ + ⟨p̂, x̂ − c(x)⟩
                 = per-list constant + ADC(residual codes)

    (everything in the L2-normalized domain, so the inner product IS the
    cosine). Residual encoding is what makes PQ codes sharp at scale: each
    codebook only has to cover one Voronoi cell's spread, not the whole
    corpus.

    Scale shape: quantizer + codebooks train on capped samples; assignment
    and encoding are one map-side scan each; a probe reads nprobe/C of the
    8-byte codes,
    shortlists with a codegen gather-sum + TakeOrdered, and reranks only
    ``shortlist`` full vectors. Measured recall/candidate-fraction in
    tests/test_ann.py and SCALE.md."""
    codes, centroids, cb = ivfpq_build(
        corpus, num_centroids=num_centroids, m=m, ksub=ksub, id_col=id_col
    )
    return _ivfpq_search(
        codes, centroids, cb, corpus, probe, k, nprobe, shortlist, id_col
    )


def ivfpq_build(
    corpus: DataFrame,
    num_centroids: int = IVF_CENTROIDS,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
):
    """Build the IVFPQ index state: ``(codes_df(id, cid, codes),
    centroids, codebooks)``. Normalizes, trains the coarse quantizer,
    computes residuals, trains residual codebooks, encodes — two capped
    sample collections plus two map-side scans."""
    from go_web_mapreduce_spark.functions.vectors import l2_norm

    # materialize the norm ONCE per row before the per-element divide —
    # folding l2_norm inside the transform lambda would re-evaluate the
    # whole 64-element reduction per element (measured 16.7 s vs 3.4 s for
    # the full query at sf0.1); lazy-checkpoint the unit vectors because
    # KMeans fit iterations, the PQ training sample, and the encode scan
    # each re-execute this projection otherwise
    unit = pin(
        corpus.select(
            id_col, "embedding", l2_norm(F.col("embedding")).alias("__n")
        )
        .select(
            id_col,
            F.transform(
                "embedding",
                lambda x: F.when(F.col("__n") == 0.0, F.lit(0.0)).otherwise(
                    x.cast("double") / F.col("__n")
                ),
            ).alias("embedding"),
        )
    )
    assigned, centroids = ivf_assign(unit, num_centroids, id_col=id_col)

    cent_df = F.broadcast(
        local_frame(
            corpus.sparkSession,
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cid int, centroid array<double>",
        )
    )
    # checkpoint: pq_train's count + sample collect and pq_encode's scan
    # would each replay the KMeans transform + join + subtract otherwise
    residuals = pin(
        assigned.join(cent_df, "cid")
        .select(
            id_col,
            "cid",
            F.zip_with("embedding", "centroid", lambda x, c: x - c).alias(
                "res"
            ),
        )
    )
    cb = pq_train(
        residuals.withColumnRenamed("res", "embedding"),
        m=m,
        ksub=ksub,
        id_col=id_col,
        normalize=False,
    )
    codes = pq_encode(
        residuals, cb, id_col=id_col, normalize=False,
        keep_cols=["cid"], vec_col="res",
    )
    return codes, centroids, cb


def _ivfpq_search(
    codes: DataFrame,
    centroids: list[list[float]],
    cb,
    vectors: DataFrame,
    probe: DataFrame,
    k: int,
    nprobe: int,
    shortlist: int,
    id_col: str,
) -> DataFrame:
    import numpy as np

    cent_arr = np.array(centroids, dtype=np.float64)
    pv = np.array(
        [float(x) for x in probe.select("embedding").first()["embedding"]],
        dtype=np.float64,
    )
    pv = pv / (np.linalg.norm(pv) or 1.0)
    top_c = _nearest_centroids(probe, centroids, nprobe)
    # per-list constant ⟨p̂, c⟩, gathered by cid from a literal array
    base_arr = F.array(
        *[F.lit(float(np.dot(pv, cent_arr[i]))) for i in range(len(centroids))]
    )
    short = (
        codes.filter(F.col("cid").isin(top_c))
        .select(
            id_col,
            (
                F.element_at(base_arr, F.col("cid") + 1)
                + pq_adc_score(F.col("codes"), cb, pv)
            ).alias("adc"),
        )
        .orderBy(F.col("adc").desc(), F.col(id_col))
        .limit(shortlist)
    )
    cands = vectors.join(F.broadcast(short.select(id_col)), id_col)
    return cosine_topk(cands.select(id_col, "embedding"), probe, k, id_col)


@query(
    "q_similarity_ivfpq",
    # FULL SQL oracle (round 6): normalize → coarse Lloyd → residual
    # codebooks → score decomposition, all replayed as unrolled CTEs
    oracle=ann_oracle.ivfpq_oracle(
        dim=EMBEDDING_DIM, k=IVF_CENTROIDS, ivf_iters=10,
        ivf_cap=IVF_TRAIN_SAMPLE_CAP, nprobe=IVF_NPROBE,
        m=PQ_M, ksub=PQ_KSUB, pq_iters=15, pq_cap=PQ_TRAIN_CAP,
        shortlist=PQ_SHORTLIST, top_k=TOP_K,
    ),
    description="ANN top-20 via IVFPQ: coarse-quantizer list pruning + "
    "residual product-quantization ADC (exact score decomposition "
    "⟨p,x⟩ = ⟨p,c⟩ + ⟨p,x−c⟩ in the normalized domain) + exact rerank of "
    "the shortlist — the composed billion-scale index layout both "
    "q_similarity_ivf and q_similarity_pq build toward; a probe touches "
    "nprobe/C of the 8-byte codes and `shortlist` full vectors; "
    "functions/ann_config.pick_config(target) returns the cheapest "
    "measured (nprobe, shortlist) — (16, 400) reaches 0.82",
)
def q_similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, emb.filter(F.col("vec_id") == 0))


# the 200k-vector operating point, produced by the EXECUTABLE scale rule
# (functions/ann_config.pick_config with corpus_size): the sf10
# re-measurement proved the base (16, 400) knobs collapse to recall 0.44
# at 200k vectors and (32, 4000) restores 0.800 — this query registers
# those knobs so the scale configuration is a tested artifact, mirroring
# q_contrastive_pairs_ivf_scaled / q_knn_graph_ivf_scaled
from go_web_mapreduce_spark.functions.ann_config import (  # noqa: E402
    pick_config as _ann_pick,
)

_IVFPQ_SCALED = _ann_pick(0.8, "ivfpq", corpus_size=200_000)["config"]
IVFPQ_SCALED_NPROBE = _IVFPQ_SCALED["nprobe"]  # 32
IVFPQ_SCALED_SHORTLIST = _IVFPQ_SCALED["shortlist"]  # 4000


@query(
    "q_similarity_ivfpq_scaled",
    oracle=ann_oracle.ivfpq_oracle(
        dim=EMBEDDING_DIM, k=IVF_CENTROIDS, ivf_iters=10,
        ivf_cap=IVF_TRAIN_SAMPLE_CAP, nprobe=IVFPQ_SCALED_NPROBE,
        m=PQ_M, ksub=PQ_KSUB, pq_iters=15, pq_cap=PQ_TRAIN_CAP,
        shortlist=IVFPQ_SCALED_SHORTLIST, top_k=TOP_K,
    ),
    description="IVFPQ at its 200k-vector SCALE operating point: the "
    "knobs come from the executable fraction rule — "
    "pick_config(0.8, 'ivfpq', corpus_size=200_000) → nprobe "
    f"{IVFPQ_SCALED_NPROBE}, shortlist {IVFPQ_SCALED_SHORTLIST}, the "
    "measured restoration (recall@10 0.800 at 200k where the unscaled "
    "knobs fell to 0.44). Same unrolled-Lloyd oracle, hash-verified; on "
    "the small verification corpora the big shortlist degenerates to "
    "exact rerank of every scanned code, which the oracle replays "
    "identically",
    variant_of="q_similarity_ivfpq",
)
def q_similarity_ivfpq_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB artifact of the ANN scale rule (SCALE.md round 9/10):
    absolute shortlist knobs are per-corpus-size, and this registration
    pins the re-measured 200k-vector point — candidate fraction
    preserved (2% of 200k), nprobe at the C=32 ceiling where coarse
    boundary losses vanish. The plan shape is identical to
    q_similarity_ivfpq (list-pruned ADC pass + shortlist exact rerank);
    only the knob constants differ, which is exactly the point: scaling
    an IVFPQ deployment is a config change, not a plan change."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") == 0),
        nprobe=IVFPQ_SCALED_NPROBE,
        shortlist=IVFPQ_SCALED_SHORTLIST,
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of a lexical and a vector leg
# ---------------------------------------------------------------------------

RRF_K = 60  # Cormack, Clarke & Buettcher 2009: k=60 is the published default
RRF_LEG_N = 50  # depth of each retrieved list before fusion
RRF_TOP = 20
RRF_TERMS = ("fast", "join", "data")  # the literal lexical query
RRF_PROBE = 0  # the vector query: embedding of vec_id 0 (query-by-example)


def _rrf_oracle() -> str:
    from go_web_mapreduce_spark.operators.relational import (
        BM25_SCORE_SQL,
        BM25_STATS_SQL,
    )

    terms_in = ", ".join(f"'{t}'" for t in RRF_TERMS)
    fold = " + ".join(
        f"coalesce(max(CASE WHEN word = '{t}' THEN s END), CAST(0 AS DOUBLE))"
        for t in RRF_TERMS
    )
    return f"""
    {BM25_STATS_SQL}, term_scores AS (
      SELECT tf.doc_id, tf.word, {BM25_SCORE_SQL} AS s
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id), stats
      WHERE tf.word IN ({terms_in})
    ), lex_scored AS (
      SELECT doc_id, {fold} AS lex_score FROM term_scores GROUP BY doc_id
    ), lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY lex_score DESC, doc_id) AS lex_rank
      FROM lex_scored QUALIFY lex_rank <= {RRF_LEG_N}
    ), vec_scored AS (
      SELECT vec_id, {_cos_sql("embedding", "pv")} AS vscore
      FROM embeddings,
           (SELECT embedding AS pv FROM embeddings WHERE vec_id = {RRF_PROBE})
    ), vec AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY vscore DESC, vec_id) AS vec_rank
      FROM vec_scored QUALIFY vec_rank <= {RRF_LEG_N}
    )
    SELECT CAST(coalesce(l.doc_id, v.vec_id) AS BIGINT) AS item_id,
           CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(coalesce(v.vec_rank, 0) AS BIGINT) AS vec_rank,
           coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + l.lex_rank), CAST(0 AS DOUBLE))
         + coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + v.vec_rank), CAST(0 AS DOUBLE))
           AS rrf_score
    FROM lex l FULL JOIN vec v ON l.doc_id = v.vec_id
    ORDER BY rrf_score DESC, item_id
    LIMIT {RRF_TOP}
    """


@query(
    "q_rank_fusion",
    oracle=_rrf_oracle(),
    description="hybrid retrieval: BM25 lexical top-50 for a literal term "
    "query fused with cosine vector top-50 for a probe embedding via "
    "reciprocal-rank fusion (1/(60+rank), Cormack 2009) over the shared "
    "doc_id==vec_id key space — the standard lexical+semantic search "
    "combiner of modern retrieval/RAG pipelines; rank 0 = not retrieved "
    "by that leg",
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF is rank-only fusion, so the two legs' score scales never meet —
    which is exactly why it is the production default for combining BM25
    with dense retrieval. Scale shape: each leg is an independent top-N
    retrieval (the lexical leg is the q_bm25 aggregation pipeline filtered
    to the query's terms; the vector leg is cosine_topk's broadcast-probe
    scan → TakeOrderedAndProject), so the fusion itself sees only
    2×RRF_LEG_N rows — the rank windows and the full-outer join run on
    bounded lists, never the corpus. All arithmetic is IEEE +-*/ on
    doubles with a fixed fold order (the per-term sum folds left-to-right
    over the literal term list), so the fused scores hash-match the DuckDB
    oracle bit-for-bit. Reference parity: composes the inverted-index /
    IR workload (server/views.go:53-55 word pipeline) with the extension
    mandate's similarity search."""
    return _rrf_fused(spark, sf_dir)


def _rrf_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused RRF top-{RRF_TOP} list — shared by q_rank_fusion (which
    returns it) and q_cross_rerank (which rescores it)."""
    from go_web_mapreduce_spark.operators.relational import _bm25_scored

    # ---- lexical leg: BM25 over the full corpus stats, scored for TERMS
    term_scores = _bm25_scored(spark, sf_dir).filter(
        F.col("word").isin(list(RRF_TERMS))
    )
    per_term = term_scores.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("word") == t, F.col("score"))).alias(f"_s{i}")
            for i, t in enumerate(RRF_TERMS)
        ]
    )
    lex_score = F.coalesce(F.col("_s0"), F.lit(0.0))
    for i in range(1, len(RRF_TERMS)):
        lex_score = lex_score + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    # top-N via TakeOrderedAndProject (no global sort), THEN rank the
    # bounded list — the rank window runs on <= RRF_LEG_N rows
    lex50 = (
        per_term.withColumn("lex_score", lex_score)
        .orderBy(F.col("lex_score").desc(), "doc_id")
        .limit(RRF_LEG_N)
    )
    lex = lex50.withColumn(
        "lex_rank",
        F.row_number().over(W.orderBy(F.col("lex_score").desc(), "doc_id")),
    ).select(F.col("doc_id").alias("item_id"), "lex_rank")

    # ---- vector leg: broadcast-probe cosine scan, top-N, rank the list
    emb = load_table(spark, sf_dir, "embeddings")
    vec50 = cosine_topk(emb, emb.filter(F.col("vec_id") == RRF_PROBE), k=RRF_LEG_N)
    vec = vec50.withColumn(
        "vec_rank",
        F.row_number().over(W.orderBy(F.col("score").desc(), "vec_id")),
    ).select(F.col("vec_id").alias("item_id"), "vec_rank")

    # ---- fusion over the two bounded lists
    fused = lex.join(vec, ["item_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0).cast("double") / (F.col("lex_rank") + F.lit(RRF_K)),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0).cast("double") / (F.col("vec_rank") + F.lit(RRF_K)),
        F.lit(0.0),
    )
    return (
        fused.select(
            F.col("item_id").cast("bigint").alias("item_id"),
            F.coalesce("lex_rank", F.lit(0)).cast("bigint").alias("lex_rank"),
            F.coalesce("vec_rank", F.lit(0)).cast("bigint").alias("vec_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "item_id")
        .limit(RRF_TOP)
    )


# ---------------------------------------------------------------------------
# cross-encoder-style rerank: the stage after fusion in the RAG chain
# (retrieve → fuse → rerank); VERDICT r10 item 7
# ---------------------------------------------------------------------------

# fixed linear reranker weights over (semantic, lexical-coverage,
# tf-density) interaction features — part of the operator, like q_ndcg's
# discount table: no trained parameters, bit-identical cross-engine
CE_W_COS = 0.6
CE_W_COV = 0.3
CE_W_TF = 0.1


def _cross_rerank_oracle() -> str:
    # DuckDB mirror of functions/text.py::tokens over the candidate docs
    tk_sql = "list_filter(string_split(lower(d.text), ' '), t -> t <> '')"
    tf_exprs = ", ".join(
        f"len(list_filter(tk, w -> w = '{t}')) AS tf{i}"
        for i, t in enumerate(RRF_TERMS)
    )
    tf_sum = " + ".join(f"tf{i}" for i in range(len(RRF_TERMS)))
    present = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(RRF_TERMS))
    )
    return f"""
    WITH fused AS ({_rrf_oracle()}),
    cdoc AS (
      SELECT f.item_id, {tk_sql} AS tk
      FROM fused f JOIN documents d ON d.doc_id = f.item_id
    ),
    feats AS (
      SELECT item_id, len(tk) AS dl, {tf_exprs} FROM cdoc
    ),
    lexf AS (
      SELECT item_id,
             CASE WHEN dl > 0
               THEN CAST({tf_sum} AS DOUBLE) / CAST(dl AS DOUBLE)
               ELSE CAST(0 AS DOUBLE) END AS tf_norm,
             CAST({present} AS DOUBLE) / 3.0 AS term_coverage
      FROM feats
    ),
    vecf AS (
      SELECT e.vec_id AS item_id,
             {_cos_sql("e.embedding", "p.pv")} AS cos_sim
      FROM embeddings e
           JOIN fused f ON e.vec_id = f.item_id,
           (SELECT embedding AS pv FROM embeddings
            WHERE vec_id = {RRF_PROBE}) p
    ),
    scored AS (
      SELECT f.item_id, f.rrf_score,
             coalesce(v.cos_sim, CAST(0 AS DOUBLE)) AS cos_sim,
             coalesce(l.term_coverage, CAST(0 AS DOUBLE)) AS term_coverage,
             coalesce(l.tf_norm, CAST(0 AS DOUBLE)) AS tf_norm
      FROM fused f
           LEFT JOIN lexf l ON l.item_id = f.item_id
           LEFT JOIN vecf v ON v.item_id = f.item_id
    )
    SELECT item_id, rrf_score, cos_sim, term_coverage, tf_norm,
           ({CE_W_COS} * cos_sim + {CE_W_COV} * term_coverage)
             + {CE_W_TF} * tf_norm AS cross_score,
           CAST(row_number() OVER (
             ORDER BY ({CE_W_COS} * cos_sim + {CE_W_COV} * term_coverage)
               + {CE_W_TF} * tf_norm DESC, item_id) AS BIGINT) AS rerank
    FROM scored
    """


@query(
    "q_cross_rerank",
    oracle=_cross_rerank_oracle(),
    description="cross-encoder-style rerank completing the RAG retrieval "
    f"chain: q_rank_fusion's RRF top-{RRF_TOP} is rescored with "
    "query×document INTERACTION features computed on the bounded "
    "candidate list — exact probe cosine, query-term coverage, and "
    "query-term tf density — under fixed linear weights "
    f"({CE_W_COS}/{CE_W_COV}/{CE_W_TF}), then re-ranked. The stage a "
    "production pipeline runs a neural cross-encoder in; here the scorer "
    "is a deterministic feature model so the whole chain hash-verifies "
    "(VERDICT r10 item 7)",
)
def q_cross_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of reranking: ALL per-candidate work happens
    after retrieval has cut the corpus to RRF_TOP rows, so the expensive
    scorer touches ≤20 (query, doc) pairs regardless of corpus size —
    the candidate ids broadcast into the documents/embeddings scans
    (broadcast hash joins, corpus side never shuffles), features are
    Column expressions over those rows, and the rerank window sorts a
    20-row list. Swapping the linear scorer for a neural cross-encoder
    is a mapInPandas over the same bounded candidate frame (the
    multimodal stub discipline — the plumbing is the operator); the
    deterministic feature model keeps the chain oracle-verifiable.
    Fold orders are pinned: tf counts are exact integers, the weighted
    sum folds (w_cos·cos + w_cov·cov) + w_tf·tf in both engines, and
    cosine uses the dimension-sequential fold, so cross_score
    hash-matches bit-for-bit."""
    from go_web_mapreduce_spark.functions.text import tokens

    # the 20-row candidate list feeds three consumers (doc features,
    # vector features, the output spine): pinned, so the two-leg retrieval
    # pipeline runs once (1.56x unpinned, sf0.1)
    fused = pin(_rrf_fused(spark, sf_dir))
    cand_ids = F.broadcast(fused.select("item_id"))

    docs = load_table(spark, sf_dir, "documents")
    cdoc = docs.join(
        cand_ids, docs["doc_id"] == cand_ids["item_id"]
    ).select("item_id", tokens("text").alias("tk"))
    def _tf(term: str):
        # factory, not a default-arg lambda: HOF lambdas must be unary
        # (extra defaults break PySpark's arity inspection)
        return F.size(F.filter("tk", lambda w: w == F.lit(term)))

    tf_cols = [
        _tf(t).alias(f"tf{i}") for i, t in enumerate(RRF_TERMS)
    ]
    feats = cdoc.select("item_id", F.size("tk").alias("dl"), *tf_cols)
    tf_sum = F.col("tf0")
    present = F.when(F.col("tf0") > 0, 1).otherwise(0)
    for i in range(1, len(RRF_TERMS)):
        tf_sum = tf_sum + F.col(f"tf{i}")
        present = present + F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
    lexf = feats.select(
        "item_id",
        F.when(
            F.col("dl") > 0,
            tf_sum.cast("double") / F.col("dl").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("tf_norm"),
        (present.cast("double") / F.lit(3.0)).alias("term_coverage"),
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == RRF_PROBE).select(
            F.col("embedding").alias("pv")
        )
    )
    vecf = (
        emb.join(cand_ids, emb["vec_id"] == cand_ids["item_id"])
        .crossJoin(probe)
        .select("item_id", cosine_similarity("embedding", "pv").alias("cos_sim"))
    )

    scored = (
        fused.select("item_id", "rrf_score")
        .join(lexf, "item_id", "left")
        .join(vecf, "item_id", "left")
        .select(
            "item_id",
            "rrf_score",
            F.coalesce("cos_sim", F.lit(0.0)).alias("cos_sim"),
            F.coalesce("term_coverage", F.lit(0.0)).alias("term_coverage"),
            F.coalesce("tf_norm", F.lit(0.0)).alias("tf_norm"),
        )
    )
    cross = (
        F.lit(CE_W_COS) * F.col("cos_sim")
        + F.lit(CE_W_COV) * F.col("term_coverage")
    ) + F.lit(CE_W_TF) * F.col("tf_norm")
    scored = scored.withColumn("cross_score", cross)
    # RRF_TOP-row list: the partitionless window is bounded by the
    # retrieval depth, the documented value-grid exception class
    w = W.orderBy(F.col("cross_score").desc(), "item_id")
    return scored.withColumn(
        "rerank", F.row_number().over(w).cast("bigint")
    )


# ---------------------------------------------------------------------------
# q_embed_quantize — int8 scalar quantization of the embedding table
# ---------------------------------------------------------------------------

# symmetric per-vector int8: scale = max|x|/127, code = clamp(floor(x/scale
# + .5), ±127). The standard vector-store compression (4x smaller than
# float32); the query reports the reconstruction error it costs.
INT8_LEVELS = 127.0


def int8_maxabs(x):
    """max|x_i| of a float-array column as a double (the int8 scale
    numerator). Max is exact and order-free, so init-0.0 left fold ==
    DuckDB's first-element ``list_reduce`` fold bit-for-bit."""
    return F.aggregate(
        x, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )


def int8_quantize_error(x, scale):
    """Per-vector squared reconstruction error of symmetric int8
    quantization given a MATERIALIZED ``scale`` column (max|x|/127).

    Every step is elementwise IEEE double math plus a LEFT-FOLD sum
    (``F.aggregate`` from init 0.0 — and err² >= 0, so the DuckDB
    ``list_reduce`` first-element fold produces bit-identical doubles),
    which is what lets the oracle hash-match a float pipeline exactly.
    floor(v/scale + 0.5) is used instead of round(): both engines define
    floor identically, while round() disagrees at .5 boundaries.

    ``scale`` must be a plain column reference, not the maxabs fold
    expression: HOF lambdas are interpreted (CodegenFallback), so an
    inlined scale would re-run the whole maxabs fold TWICE PER ELEMENT —
    measured 19× slower at sf1 (18.3s → 0.95s, SCALE_MEASURED.json).
    Same reason the error term is built in a ``transform`` and squared in
    the fold: ``e * e`` on the lambda variable reads the materialized
    element twice instead of duplicating the error subtree.
    """
    err = F.transform(
        x,
        lambda v: v.cast("double")
        - F.greatest(
            F.least(
                F.floor(v.cast("double") / scale + F.lit(0.5)).cast("double"),
                F.lit(127.0),
            ),
            F.lit(-127.0),
        )
        * scale,
    )
    sq = F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e)
    return F.when(scale == 0.0, F.lit(0.0)).otherwise(sq)


@query(
    "q_embed_quantize",
    oracle="""
    WITH base AS (
      SELECT label, len(embedding) AS dim,
             list_reduce(list_transform(embedding, v -> abs(v::DOUBLE)),
                         (a, b) -> greatest(a, b)) AS maxabs,
             embedding
      FROM embeddings
    ), per_vec AS (
      SELECT label, dim,
             CASE WHEN maxabs = 0 THEN 0.0 ELSE
               list_reduce(list_transform(embedding, v ->
                 (v::DOUBLE - greatest(least(floor(v::DOUBLE / (maxabs / 127.0)
                                                   + 0.5), 127.0), -127.0)
                              * (maxabs / 127.0))
                 * (v::DOUBLE - greatest(least(floor(v::DOUBLE / (maxabs / 127.0)
                                                     + 0.5), 127.0), -127.0)
                                * (maxabs / 127.0))),
                 (a, b) -> a + b)
             END / dim AS mse
      FROM base
    )
    SELECT label, count(*) AS n_vecs,
           CAST(CAST(sum(CAST(mse AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
             / count(*) AS avg_mse,
           max(mse) AS max_mse
    FROM per_vec GROUP BY label
    """,
    description="int8 scalar quantization of embeddings: per-label "
    "reconstruction MSE of symmetric per-vector codes (extension mandate: "
    "similarity / vector compression)",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction cost of compressing the embedding table to int8:
    per label, the count of vectors and the mean / max per-vector MSE of
    symmetric scalar quantization.

    Scale shape: quantization is a pure map-side projection over the
    embeddings scan (codegen fold, no Python, no shuffle); the only
    shuffle is the tiny per-label aggregate. At 100 TB this is the cheap
    first rung of the compression ladder (int8 → PQ → IVFPQ; the PQ
    family's measured trade-offs live in q_similarity_pq/ivfpq), and the
    avg/max MSE columns are exactly what an operator checks before
    switching the serving tier to the quantized copy. avg follows the
    decimal-sum discipline (functions/numeric.py); max of bit-identical
    doubles is order-free, so the query hash-verifies.
    """
    from go_web_mapreduce_spark.functions.numeric import dsum

    emb = load_table(spark, sf_dir, "embeddings")
    # stage maxabs/scale into their own projections so the fold in
    # int8_quantize_error sees a column REFERENCE, not an inlined
    # re-computation per element (see its docstring; measured 6×)
    staged = emb.select(
        "label",
        "embedding",
        (int8_maxabs(F.col("embedding")) / F.lit(INT8_LEVELS)).alias("scale"),
    )
    per_vec = staged.select(
        "label",
        (
            int8_quantize_error(F.col("embedding"), F.col("scale"))
            / F.size("embedding").cast("double")
        ).alias("mse"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (dsum("mse", 12) / F.count(F.lit(1))).alias("avg_mse"),
        F.max("mse").alias("max_mse"),
    )


# ---------------------------------------------------------------------------
# q_contrastive_pairs — (anchor, positive, hard negative) mining for
# contrastive / embedding training
# ---------------------------------------------------------------------------

# exact-neighborhood size examined per anchor. 16, not 8: a corpus where a
# document has ~D near-verbatim copies needs K > D + NEG_K or the whole
# neighborhood is positives and no triple can be mined — the 10x planted
# scale corpus (make_scale_corpus) is exactly that regime (K=8 mined ZERO
# triples at sf1; K=16 leaves >= 6 non-duplicate slots)
CP_K = 16
CP_POS_T = SEMANTIC_COS  # >= this cosine: semantic duplicate -> positive
CP_NEG_K = 2  # hard negatives kept per anchor


def _mine_contrastive(kn: DataFrame) -> DataFrame:
    """Positive/hard-negative classification over a pinned kNN table —
    shared by the exact miner and both IVF twins (identical mining, the
    twins differ only in where the neighborhood comes from)."""
    pos = _rank_topk(kn.filter(F.col("score") >= CP_POS_T), 1).select(
        "vec_id",
        F.col("nbr").alias("pos_id"),
        F.col("score").alias("pos_score"),
    )
    neg = _rank_topk(kn.filter(F.col("score") < CP_POS_T), CP_NEG_K).select(
        "vec_id",
        F.col("nbr").alias("neg_id"),
        F.col("score").alias("neg_score"),
        F.col("rnk").cast("int").alias("neg_rank"),
    )
    return pos.join(neg, "vec_id").select(
        F.col("vec_id").alias("anchor"),
        "pos_id",
        "pos_score",
        "neg_id",
        "neg_score",
        "neg_rank",
    )


@query(
    "q_contrastive_pairs",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
             {_cos_sql("a.embedding", "b.embedding")} AS score
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    top AS MATERIALIZED (
      SELECT vec_id, nbr, score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, nbr) AS rnk
      FROM scored
      QUALIFY rnk <= {CP_K}
    ),
    pos AS (
      SELECT vec_id, nbr AS pos_id, score AS pos_score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, nbr) AS pr
      FROM top WHERE score >= {CP_POS_T}
      QUALIFY pr = 1
    ),
    neg AS (
      SELECT vec_id, nbr AS neg_id, score AS neg_score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, nbr) AS nr
      FROM top WHERE score < {CP_POS_T}
      QUALIFY nr <= {CP_NEG_K}
    )
    SELECT p.vec_id AS anchor, p.pos_id, p.pos_score,
           n.neg_id, n.neg_score, CAST(n.nr AS INT) AS neg_rank
    FROM pos p JOIN neg n ON n.vec_id = p.vec_id
    """,
    description=f"hard-negative mining for contrastive training (the "
    "SimCLR/DPR data-prep step): from each anchor's exact top-"
    f"{CP_K} cosine neighborhood, the positive is the single nearest "
    f"semantic duplicate (score >= {CP_POS_T}) and the hard negatives are "
    f"the {CP_NEG_K} closest NON-duplicates (score < {CP_POS_T}) — the "
    "near-misses that teach an embedding model the decision boundary, "
    "emitted as (anchor, positive, negative) training triples. Anchors "
    "with no in-threshold positive in the neighborhood yield no triples "
    "(nothing to contrast against). Plan: the knn_graph block grid "
    "(shuffle carries n*B*k local-top-k candidates, never n^2/2 pairs) "
    "followed by two dimension-sized window ranks and a per-anchor join; "
    "scores reuse the bit-parity sequential-fold cosine, so the float "
    "threshold classifies identically in both engines. The IVF-bucketed "
    "knn_graph_ivf drops in unchanged as the 100 TB scale path",
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    kn = knn_graph(load_table(spark, sf_dir, "embeddings"), k=CP_K)
    return _mine_contrastive(kn)


_CP_POSNEG_SQL = f"""
    pos AS (
      SELECT vec_id, nbr AS pos_id, score AS pos_score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, nbr) AS pr
      FROM top WHERE score >= {CP_POS_T}
      QUALIFY pr = 1
    ),
    neg AS (
      SELECT vec_id, nbr AS neg_id, score AS neg_score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, nbr) AS nr
      FROM top WHERE score < {CP_POS_T}
      QUALIFY nr <= {CP_NEG_K}
    )
    SELECT p.vec_id AS anchor, p.pos_id, p.pos_score,
           n.neg_id, n.neg_score, CAST(n.nr AS INT) AS neg_rank
    FROM pos p JOIN neg n ON n.vec_id = p.vec_id"""


@query(
    "q_contrastive_pairs_ivf",
    oracle="WITH top AS MATERIALIZED (\n"
    + ann_oracle.knn_graph_ivf_oracle(
        dim=EMBEDDING_DIM, k=IVF_CENTROIDS, iters=10,
        cap=IVF_TRAIN_SAMPLE_CAP, aprobe=KNN_IVF_APROBE, graph_k=CP_K,
    )
    + "),\n"
    + _CP_POSNEG_SQL,
    description="hard-negative mining on the IVF-bucketed kNN graph — the "
    "100 TB SCALE PATH of q_contrastive_pairs: identical positive/negative "
    "classification over each anchor's top-16 neighborhood, but the "
    "neighborhood comes from knn_graph_ivf (work n·(n/C)·aprobe·d, a 1/C "
    "fraction of the exact grid whose measured exponent is ~1.3 by "
    "definition). Same unrolled-Lloyd + fold-cosine oracle machinery as "
    "q_knn_graph_ivf, hash-verified; triples differ from the exact miner "
    "only where IVF misses a true neighbor (the measured recall curve in "
    "SCALE.md prices that)",
)
def q_contrastive_pairs_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    kn = knn_graph_ivf(load_table(spark, sf_dir, "embeddings"), k=CP_K)
    return _mine_contrastive(kn)


@query(
    "q_contrastive_pairs_ivf_scaled",
    oracle="WITH top AS MATERIALIZED (\n"
    + ann_oracle.knn_graph_ivf_oracle(
        dim=EMBEDDING_DIM, k=KNN_IVF_SCALED_CENTROIDS, iters=10,
        cap=IVF_TRAIN_SAMPLE_CAP, aprobe=KNN_IVF_APROBE, graph_k=CP_K,
    )
    + "),\n"
    + _CP_POSNEG_SQL,
    description="the contrastive miner's SCALE configuration: identical "
    "mining over the C=256 IVF kNN graph. The C=32 twin measured exp "
    "1.619 sf1→sf10 — the same fixed-C wall q_knn_graph_ivf hit (bucket "
    "work is n·(n/C)·aprobe·d, quadratic whenever C is a constant), and "
    "the same cure: C grows ~√n (SCALE.md). Same unrolled-Lloyd oracle, "
    "hash-verified",
    variant_of="q_contrastive_pairs_ivf",
)
def q_contrastive_pairs_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C=256 point of the C-must-scale-with-n rule, mirroring
    q_knn_graph_ivf_scaled — registered after the C=32 twin left its band
    at sf10 (exp 0.45 sf0.1→sf1, then 1.619 sf1→sf10)."""
    kn = knn_graph_ivf(
        load_table(spark, sf_dir, "embeddings"),
        k=CP_K,
        num_centroids=KNN_IVF_SCALED_CENTROIDS,
    )
    return _mine_contrastive(kn)


# ---------------------------------------------------------------------------
# q_random_projection — Johnson–Lindenstrauss sign projection (Achlioptas
# 2003): 64-dim embeddings → 16 integer projections, the map-side
# dimensionality reduction that precedes ANN indexing at corpus scale
# ---------------------------------------------------------------------------

RP_IN_DIM = 64
RP_OUT_DIM = 16
RP_SCALE = 1_000_000  # per-component quantization: q_i = round(x_i · 1e6)

# ±1 signs derived once from md5 — the projection matrix is PART OF THE
# OPERATOR (fixed literals in both engines), the same trick as q_ndcg's
# discount table: no RNG, no float matrix, bit-identical cross-engine
_RP_SIGNS = [
    [
        1 if int(hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1
        for i in range(RP_IN_DIM)
    ]
    for j in range(RP_OUT_DIM)
]


def _rp_proj_sql(j: int, elem: str) -> str:
    """Σ_i ±q_i for output dim ``j``; ``elem`` formats a 1-based element
    reference of the quantized array (engines differ only in indexing
    syntax)."""
    terms = [
        ("+" if s > 0 else "-") + f" {elem.format(i=i + 1)}"
        for i, s in enumerate(_RP_SIGNS[j])
    ]
    return "0 " + " ".join(terms)


_RP_SPARK_COLS = [
    _rp_proj_sql(j, "element_at(q, {i})") + f" AS p{j:02d}"
    for j in range(RP_OUT_DIM)
]
_RP_DUCK_COLS = ", ".join(
    _rp_proj_sql(j, "q[{i}]") + f" AS p{j:02d}" for j in range(RP_OUT_DIM)
)


@query(
    "q_random_projection",
    oracle=f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * {RP_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    )
    SELECT vec_id, {_RP_DUCK_COLS} FROM quant
    """,
    description="Johnson–Lindenstrauss sign projection (Achlioptas 2003): "
    f"each {RP_IN_DIM}-dim embedding is quantized to exact bigints "
    f"(round(x·10^6)) and multiplied by a fixed ±1 matrix into "
    f"{RP_OUT_DIM} integer projections — the distance-preserving "
    "dimensionality reduction that shrinks ANN index memory 4× before "
    "bucketing. The sign matrix is md5-derived literals embedded in both "
    "engines (the q_ndcg discount-table move), so the projection is pure "
    "integer arithmetic and hash-verifies exactly",
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: a stateless map-side projection — no shuffle, no
    aggregation, no Python; one whole-stage-codegen pass quantizes the
    float array once (transform) and folds 16 signed integer sums per
    row. This is the standard pre-ANN compression step: downstream
    LSH/IVF bucketing on 16 ints instead of 64 floats cuts both shuffle
    bytes and comparator cost ~4× while JL guarantees pairwise-distance
    distortion bounds, and integer projections make every downstream
    band/bucket key deterministic. Column pruning pushes to the scan:
    only (vec_id, embedding) is read. The explicit CAST(x AS DOUBLE)
    before the ×10^6 multiply is load-bearing: both engines otherwise
    multiply in single precision (array<float> element × int literal),
    and a 1-ulp float32 product difference flips round() by one on
    ~1 component per vector — caught by the oracle hash."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    quant = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {RP_SCALE}) AS BIGINT))"
        ).alias("q"),
    )
    return quant.selectExpr("vec_id", *_RP_SPARK_COLS)


# ---------------------------------------------------------------------------
# q_kcenter_sample — greedy k-center coreset selection (Gonzalez 1985):
# the farthest-point diversity sample used to pick maximally-spread
# exemplars from an embedding corpus (2-approximation of the k-center
# optimum), with the coverage-radius sequence as the audit trail
# ---------------------------------------------------------------------------

KCENTER_K = 8
KCENTER_SCALE = 1000  # quantization: exact bigint squared distances


def _kc_d2(a: str, b: str, dim: int) -> str:
    """Exact bigint squared L2 distance between two quantized lists
    (DuckDB text; Spark uses zip_with/aggregate on the same integers)."""
    return (
        f"list_reduce(list_transform(range({dim}), "
        f"i -> ({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1])), "
        "(x, y) -> x + y)"
    )


def _kcenter_oracle(k: int, dim: int) -> str:
    ctes = [
        "q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {KCENTER_SCALE}) AS BIGINT)) "
        "AS v FROM embeddings)",
        "c0 AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1)",
        f"d0 AS MATERIALIZED (SELECT q.vec_id, q.v, {_kc_d2('q.v', 'c0.v', dim)} AS md "
        "FROM q CROSS JOIN c0)",
    ]
    for r in range(1, k):
        prev = f"d{r - 1}"
        ctes.append(
            f"c{r} AS (SELECT vec_id, v, md FROM {prev} "
            "ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if r < k - 1:
            ctes.append(
                f"d{r} AS MATERIALIZED (SELECT {prev}.vec_id, {prev}.v, "
                f"least({prev}.md, {_kc_d2(f'{prev}.v', f'c{r}.v', dim)}) "
                f"AS md FROM {prev} CROSS JOIN c{r})"
            )
    selects = ["SELECT 0 AS round, vec_id, CAST(0 AS BIGINT) AS dist2 FROM c0"]
    selects += [
        f"SELECT {r} AS round, vec_id, CAST(md AS BIGINT) AS dist2 FROM c{r}"
        for r in range(1, k)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


@query(
    "q_kcenter_sample",
    oracle=_kcenter_oracle(KCENTER_K, RP_IN_DIM),
    description=f"greedy k-center coreset selection (Gonzalez 1985, the "
    "farthest-point traversal): starting from the lowest vec_id, each of "
    f"{KCENTER_K} rounds adds the point farthest from the chosen set — "
    "the classic maximally-diverse exemplar sampler (2-approximation of "
    "the k-center optimum) used to seed diverse training subsets and "
    "annotation batches; each row reports the selection round and the "
    "coverage radius² at selection (a non-increasing sequence after "
    "round 1 — the audit trail of how fast diversity saturates). "
    "Distances are exact bigint squared L2 on round(x·10³) quantized "
    "embeddings, ties broken by vec_id, so the greedy trajectory is "
    "bit-identical cross-engine",
)
def q_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: each greedy round is ONE map-side scan — the
    running min-distance column md folds the new center (a broadcast
    64-int literal) with least(md, d²), and the round's winner comes
    from a single max(struct(md, -vec_id, v)) partial aggregate (one
    candidate per partition crosses to the driver: a k-row total driver
    footprint, same bounded-collect discipline as the quantizer
    training). No pairwise matrix, no shuffle of corpus rows at all —
    k scans of a lineage-truncated quantized projection. The classic
    scale refinement (not needed at this k) batches rounds with
    tournament sampling; the docstringed plan is already O(k·n) work
    with O(1) driver state per round."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = pin(emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * "
            f"{KCENTER_SCALE}) AS BIGINT))"
        ).alias("v"),
    ))

    def d2_to(vec: list[int]) -> str:
        lits = "array(" + ", ".join(f"{x}L" for x in vec) + ")"
        return (
            f"aggregate(zip_with(v, {lits}, (a, b) -> (a - b) * (a - b)), "
            "0L, (acc, x) -> acc + x)"
        )

    seed = q.orderBy("vec_id").limit(1).collect()[0]
    rows = [(0, int(seed["vec_id"]), 0)]
    cur = q.withColumn("md", F.expr(d2_to(list(seed["v"]))))
    for r in range(1, KCENTER_K):
        top = cur.select(
            F.max(
                F.struct(
                    F.col("md").alias("d"),
                    (-F.col("vec_id")).alias("nid"),
                    F.col("v").alias("v"),
                )
            ).alias("t")
        ).first()["t"]
        rows.append((r, int(-top["nid"]), int(top["d"])))
        if r < KCENTER_K - 1:
            cur = cur.withColumn(
                "md", F.least(F.col("md"), F.expr(d2_to(list(top["v"]))))
            )
    return local_frame(spark, rows, "round int, vec_id bigint, dist2 bigint")


# ---------------------------------------------------------------------------
# q_mmr_diversify — Maximal Marginal Relevance re-ranking (Carbonell &
# Goldstein 1998): diversity-aware top-k over the similarity candidates,
# the retrieval-side complement of q_kcenter_sample's corpus-side sampler
# ---------------------------------------------------------------------------

MMR_M = 32        # distributed candidate pool: top-M by relevance
MMR_K = 5         # re-ranked picks
MMR_LAMBDA10 = 7  # λ = 0.7 as the integer pair (7, 3): score = 7·rel − 3·maxsim
MMR_SCALE = 1000  # quantization for exact bigint dot products


def _mmr_dot(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_transform(range({dim}), "
        f"i -> {a}[i+1] * {b}[i+1]), (x, y) -> x + y)"
    )


def _mmr_oracle(k: int, m: int, dim: int) -> str:
    dot = _mmr_dot
    ctes = [
        "q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {MMR_SCALE}) AS BIGINT)) AS v "
        "FROM embeddings)",
        "p AS (SELECT v AS pv FROM q WHERE vec_id = 0)",
        f"cand AS MATERIALIZED (SELECT q.vec_id, q.v, {dot('q.v', 'p.pv', dim)} AS rel "
        "FROM q CROSS JOIN p WHERE q.vec_id <> 0 "
        f"ORDER BY rel DESC, q.vec_id LIMIT {m})",
        # round 1: empty selected set → maxsim = 0
        "d1 AS MATERIALIZED (SELECT vec_id, v, rel, CAST(0 AS BIGINT) AS ms FROM cand)",
        f"c1 AS (SELECT * FROM d1 ORDER BY {MMR_LAMBDA10} * rel "
        f"- {10 - MMR_LAMBDA10} * ms DESC, vec_id LIMIT 1)",
    ]
    for r in range(2, k + 1):
        prev, sel = f"d{r - 1}", f"c{r - 1}"
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT {prev}.vec_id, {prev}.v, {prev}.rel, "
            f"greatest({prev}.ms, {dot(f'{prev}.v', f'{sel}.v', dim)}) AS ms "
            f"FROM {prev} CROSS JOIN {sel} "
            f"WHERE {prev}.vec_id <> {sel}.vec_id)"
        )
        ctes.append(
            f"c{r} AS (SELECT * FROM d{r} ORDER BY {MMR_LAMBDA10} * rel "
            f"- {10 - MMR_LAMBDA10} * ms DESC, vec_id LIMIT 1)"
        )
    selects = [
        f"SELECT {r} AS round, vec_id, CAST(rel AS BIGINT) AS rel, "
        f"CAST(ms AS BIGINT) AS max_sim, "
        f"CAST({MMR_LAMBDA10} * rel - {10 - MMR_LAMBDA10} * ms AS BIGINT) "
        f"AS mmr10 FROM c{r}"
        for r in range(1, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


@query(
    "q_mmr_diversify",
    oracle=_mmr_oracle(MMR_K, MMR_M, RP_IN_DIM),
    description="Maximal Marginal Relevance re-ranking (Carbonell & "
    f"Goldstein 1998): the top-{MMR_M} relevance candidates for probe "
    f"vec_id 0 are greedily re-ranked into {MMR_K} picks maximizing "
    f"λ·relevance − (1−λ)·max-similarity-to-selected with λ=0.7 kept as "
    "the integer pair (7,3) — the standard diversity-aware retrieval "
    "head that stops a result page (or a RAG context window) filling "
    "with near-duplicates. Relevance and inter-candidate similarity are "
    "exact bigint dot products on round(x·10³) quantized embeddings, "
    "ties by vec_id — the greedy trajectory is bit-identical cross-engine",
)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the DISTRIBUTED part is the candidate pool — one
    map-side dot product per vector against the broadcast probe and a
    TakeOrderedAndProject top-M (per-partition heads, no global sort);
    the greedy MMR then runs on those M rows in the driver (a bounded
    M-row collect, the same discipline as the quantizer-training
    samples) because MMR is sequential by definition — each pick changes
    every remaining score. M×K dot products on 32 rows is driver-trivial
    at any corpus size; the corpus-scaled work stays in the scan."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * "
            f"{MMR_SCALE}) AS BIGINT))"
        ).alias("v"),
    )
    probe = q.where(F.col("vec_id") == 0).select(F.col("v").alias("pv"))
    cand = (
        q.where(F.col("vec_id") != 0)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            "v",
            F.expr(
                "aggregate(zip_with(v, pv, (a, b) -> a * b), 0L, "
                "(acc, x) -> acc + x)"
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_M)
        .collect()
    )
    pool = [
        {"vec_id": int(r["vec_id"]), "v": list(r["v"]), "rel": int(r["rel"])}
        for r in cand
    ]
    for c in pool:
        c["ms"] = 0
    picks = []
    for rnd in range(1, MMR_K + 1):
        if not pool:
            # fewer than MMR_K candidates (tiny corpus / absent probe):
            # degrade to the rows available, matching the oracle's
            # recursive CTE which simply stops extending
            break
        best = max(
            pool,
            key=lambda c: (
                MMR_LAMBDA10 * c["rel"] - (10 - MMR_LAMBDA10) * c["ms"],
                -c["vec_id"],
            ),
        )
        picks.append(
            (
                rnd,
                best["vec_id"],
                best["rel"],
                best["ms"],
                MMR_LAMBDA10 * best["rel"] - (10 - MMR_LAMBDA10) * best["ms"],
            )
        )
        pool = [c for c in pool if c["vec_id"] != best["vec_id"]]
        for c in pool:
            s = sum(a * b for a, b in zip(c["v"], best["v"]))
            if s > c["ms"]:
                c["ms"] = s
    return local_frame(
        spark, picks, "round int, vec_id bigint, rel bigint, max_sim bigint, mmr10 bigint"
    )
