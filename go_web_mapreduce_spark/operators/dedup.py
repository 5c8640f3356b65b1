"""Deduplication operators — exact and near-duplicate detection at scale.

The engine's extension mandate: exact (hash-groupBy), MinHash+LSH
(shingle → signature → band → bucket-join), SimHash (banded hamming),
exact n-gram Jaccard (inverted-index join), embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):
- signatures/fingerprints are map-side passes over the documents scan —
  tokenization as JVM Column expressions, then fused Arrow kernels for
  shingle sets / MinHash / SimHash (measured 10-60× over interpreted
  Catalyst HOFs, value-identical — functions/text.py, functions/hashing.py);
  no shuffle until the candidate join;
- candidate generation shuffles only (doc_id, band_key) pairs — bytes
  proportional to corpus size × bands, never corpus²;
- verification joins are equi-joins on band keys / shingles, so Catalyst
  hash-partitions both sides; hot buckets (boilerplate shingles) are capped
  with a document-frequency filter, the standard prefix-filtering trick;
- every hash is md5-derived (functions/hashing.py) so the DuckDB oracles
  replicate the *exact* pipeline — near-dup results are hash-verified, not
  eyeballed. Algorithms per Broder 1997 (MinHash), Charikar 2002 (SimHash),
  LRU *Mining of Massive Datasets* ch.3 (banding) — all public.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions.hashing import (
    MINHASH_MOD,
    band_keys,
    hamming_distance,
    hash_family,
    minhash_sig_arrow,
    simhash_from_tokens_arrow,
    simhash_wide_from_tokens_arrow,
)
from go_web_mapreduce_spark.functions.text import (
    distinct_shingles_arrow,
    shingle_counts_arrow,
    tokens,
)
from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin
from go_web_mapreduce_spark.sources.tables import fan_out, load_table

# MinHash-LSH configuration (shared by the Spark pipeline and the oracle)
SHINGLE_K = 3
NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = 3
MIN_MATCHING = 6  # est. jaccard >= 6/12 = 0.5

# exact n-gram jaccard configuration
JACCARD_THRESHOLD = 0.6
MAX_SHINGLE_DF = 50  # stop-shingle cap: drop shingles in > this many docs

# simhash configuration: 60 bits in 4 bands of 15; by pigeonhole, any pair at
# hamming distance <= 3 shares at least one full band. Band width sets the
# bucket space (2^15 = 32,768 per band): the round-5 sf0.1→sf1 scaling run
# measured the previous 12-bit bands (4,096 buckets) going quadratic at 50k
# docs (exp 1.5, 2s→42s) because expected in-bucket pairs grow as n²/buckets.
# 60 is the ceiling that keeps fingerprints exact in a signed int64 on BOTH
# engines (DuckDB '0x…'::BIGINT); at larger corpora still, widen bands and
# accept a larger max_dist per band count, or shard the join by a fingerprint
# prefix.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_MAX_DIST = 3

# DuckDB mirror of functions/text.py::tokens
_TK = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


def _shingled_docs(spark: SparkSession, sf_dir: str, k: int = SHINGLE_K) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokens materialize in their OWN projection (JVM-exact lower/split), then
    # the shingle set is built by the Arrow kernel — the Column HOF formulation
    # (array_distinct(word_shingles(...))) is value-identical but interpreted
    # per position, measured ~10× slower (functions/text.py docstring)
    # fan_out: the Arrow shingle kernel is CPU-bound and the documents
    # scan is one partition at test SFs — widen so it parallelizes
    # (no-op when the scan is already wide; sources/tables.py::fan_out)
    return fan_out(docs.select("doc_id", tokens("text").alias("tk"))).select(
        "doc_id",
        distinct_shingles_arrow(F.col("tk"), k).alias("shingles"),
    )


def _sh_sql(k: int = SHINGLE_K) -> str:
    """DuckDB expression for the distinct word-k-gram set of ``tk``."""
    return (
        f"list_distinct(list_transform(range(1, greatest(len(tk) - {k - 1}, 1) + 1),"
        f" i -> array_to_string(tk[i:i+{k - 1}], ' ')))"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT lang, count(*) AS n_total, count(DISTINCT text) AS n_unique
    FROM documents GROUP BY lang
    """,
    description="exact dedup via content hash (extension mandate: dedup)",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts unique sha256 content hashes per language. countDistinct(hash)
    == countDistinct(text) barring collisions, which is what the oracle
    checks without needing cross-engine sha2 parity."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.countDistinct(F.sha2("text", 256)).alias("n_unique"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def minhash_candidates(
    shingled: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """LSH candidate pairs with their estimated jaccard.

    Input: (id, shingles array). Output: (doc_a, doc_b, n_matching) where
    n_matching = matching signature components out of ``num_hashes``.
    The only shuffles are the band-key self-join and the final distinct.

    Signature cost: one md5 per shingle + ``num_hashes`` integer
    multiply-add-mod mixes, fused in one Arrow kernel
    (functions/hashing.py::minhash_sig_arrow) — map-side, no shuffle.

    Candidate generation is ONE shuffle: group by band key, collect the
    (id, sig) members, and generate ordered pairs inside each bucket row
    (bucket sizes are tiny under any sane banding, so the in-row pair
    expansion is bounded) — no self-join, no second pass over the corpus.
    """
    sig = shingled.select(
        F.col(id_col), minhash_sig_arrow(F.col("shingles"), num_hashes).alias("sig")
    )
    banded = sig.select(
        id_col, "sig", F.explode(band_keys(F.col("sig"), bands, rows_per_band)).alias("bk")
    )
    pairs = _bucket_pairs(banded, "bk", id_col, ["sig"])
    n_matching = F.aggregate(
        F.zip_with("a.sig", "b.sig", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return pairs.select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        n_matching.alias("n_matching"),
    )


def _bucket_pairs(
    df: DataFrame, bucket_col: str, id_col: str, payload_cols: list[str]
) -> DataFrame:
    """All ordered member pairs (id_a < id_b) co-occurring in any bucket,
    deduplicated across buckets. Output columns: ``a``, ``b`` — structs of
    (id, *payload).

    Plan shape (rewritten in round 6 after the sf10 measurement): a plain
    band self-equi-join. The previous formulation packed each bucket with
    ``collect_list`` and expanded all C(n,2) pairs via nested
    ``transform``+``flatten`` INSIDE ONE ROW — a single large bucket (the
    sf10 tiled corpus produces ~100-member near-dup families whose bands
    collide) materialized gigabytes in one Tungsten row and OOMed the
    executor. The self-join keeps every row bucket-member-sized: the join
    output streams (Spark's sort-merge join spills, and AQE's skew split
    can break a hot band value across tasks), shuffle volume is two
    passes of (band, id, payload) rows plus the emitted pairs — the pair
    COUNT is inherent to the operator's semantics either way, but no plan
    state is ever quadratic in a bucket's size. Same pair set, same
    deterministic per-id payloads; cross-bucket duplicates collapse in
    one dropDuplicates shuffle exactly as before.
    """
    member = F.struct(F.col(id_col), *[F.col(c) for c in payload_cols])
    m = df.select(F.col(bucket_col).alias("_bk"), member.alias("_m"))
    left = m.select(
        "_bk", F.col("_m").alias("a"), F.col(f"_m.{id_col}").alias("_id_a")
    )
    right = m.select(
        F.col("_bk").alias("_bk_r"),
        F.col("_m").alias("b"),
        F.col(f"_m.{id_col}").alias("_id_b"),
    )
    return (
        left.join(
            right,
            (F.col("_bk") == F.col("_bk_r"))
            & (F.col("_id_a") < F.col("_id_b")),
        )
        .dropDuplicates(["_id_a", "_id_b"])
        .select("a", "b")
    )


_A_LIST = "[" + ",".join(str(a) for a, _ in hash_family(NUM_HASHES)) + "]"
_B_LIST = "[" + ",".join(str(b) for _, b in hash_family(NUM_HASHES)) + "]"

_N_MATCH_SQL = f"""list_sum(list_transform(range({NUM_HASHES}),
             i -> CASE WHEN sig_a[i+1] = sig_b[i+1] THEN 1 ELSE 0 END))"""

# shared CTE chain: documents → shingles → minhash signatures → banded
# keys (mirrors minhash_candidates exactly); _MINHASH_CAND_CTE extends it
# with the self-join candidate stage, the incremental oracle below with a
# batch-vs-index join instead
_MINHASH_BANDED_CTE = f"""toks AS (SELECT doc_id, {_TK} AS tk FROM documents),
    sh AS (SELECT doc_id, {_sh_sql()} AS shingles FROM toks),
    hs AS (
      SELECT doc_id,
             list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range({NUM_HASHES}),
               i -> list_min(list_transform(hs,
                 h -> (({_A_LIST})[i+1] * h + ({_B_LIST})[i+1]) % {MINHASH_MOD})))
               AS sig
      FROM hs
    ), banded AS (
      SELECT doc_id, sig,
             unnest(list_transform(range({BANDS}),
               b -> md5('band' || b::varchar || ':' ||
                        array_to_string(sig[b*{ROWS_PER_BAND}+1 : b*{ROWS_PER_BAND}+{ROWS_PER_BAND}], '|'))))
               AS bk
      FROM sig
    )"""

_MINHASH_CAND_CTE = f"""{_MINHASH_BANDED_CTE}, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
    )"""


@query(
    "q_dedup_minhash",
    oracle=f"""
    WITH {_MINHASH_CAND_CTE}
    SELECT doc_a, doc_b,
           -- CAST: duckdb list_sum yields HUGEINT (float64 via pandas); pin to
           -- int64 so the value-hash matches Spark's bigint (ADVICE r01)
           CAST({_N_MATCH_SQL} AS BIGINT) AS n_matching
    FROM cand
    WHERE {_N_MATCH_SQL} >= {MIN_MATCHING}
    """,
    description="MinHash+LSH near-dup candidates with estimated jaccard >= 0.5 "
    "(extension mandate: dedup; Broder 1997 / MMDS ch.3)",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    cands = minhash_candidates(_shingled_docs(spark, sf_dir))
    return cands.filter(F.col("n_matching") >= MIN_MATCHING)


# ---------------------------------------------------------------------------
# exact n-gram jaccard near-dup (inverted-index join)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact jaccard over distinct shingle sets via an inverted index.

    Shingles occurring in more than ``max_df`` documents are dropped from all
    sets symmetrically (stop-shingle filtering): keeps hot-key
    fan-out bounded — the difference between n² and n·df at 100 TB.

    Plan shape: ONE shuffle builds the posting list per shingle
    (``groupBy(s).collect_list(doc)``), candidate pairs are generated
    *inside* each posting row with an index-aware ``transform`` (≤ df²/2
    structs per shingle, df capped), then one shuffle counts pair
    co-occurrences — which IS the exact intersection size, so no separate
    verification pass exists. Cheaper than the window + self-join
    formulation: no per-shingle sort, no second shuffle of the full
    postings, and the doc sizes are a broadcast-joined side table.

    Measured against :func:`jaccard_pairs_prefix` (Bayardo-style prefix
    filtering) at sf0.1: this formulation is ~2.3× faster on the benchmark
    corpus (2.8–3.1 s vs 6.6 s warm), because the co-occurrence count gets
    intersections for free while prefix filtering must re-join the full
    sets to verify survivors. Prefix filtering wins only when Σ df² over
    postings explodes (boilerplate-heavy corpora pinned at the df cap) —
    use the prefix variant there.
    """
    scored = _cooccurrence_scored(shingled, id_col, max_df)
    jacc = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return scored.select("doc_a", "doc_b", jacc.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _cooccurrence_scored(
    shingled: DataFrame, id_col: str = "doc_id", max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for every co-occurring pair — the
    shared inverted-index core of :func:`jaccard_pairs` and
    :func:`containment_pairs`; plan notes live on the former."""
    exploded = shingled.select(id_col, F.explode("shingles").alias("s"))
    posting = (
        exploded.groupBy("s")
        .agg(F.collect_list(F.col(id_col)).alias("docs"))
        .filter(F.size("docs") <= max_df)
        .select(F.sort_array("docs").alias("docs"))
    )
    sizes = (
        posting.select(F.explode("docs").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("sz"))
    )

    def pairs_after(a: Column, i: Column) -> Column:
        rest = F.slice(F.col("docs"), i + F.lit(2), F.size(F.col("docs")))
        return F.transform(
            rest, lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b"))
        )

    inter = (
        # singleton postings produce no pairs but would still pay the
        # interpreted pair-gen HOFs per row — and they are the vast majority
        posting.filter(F.size("docs") >= 2).select(
            F.explode(F.flatten(F.transform(F.col("docs"), pairs_after))).alias("p")
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    # sizes has one row per doc — not broadcastable at corpus scale; leave
    # the strategy to AQE (it broadcasts when the measured side is small)
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs_prefix(
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact jaccard via a PREFIX-FILTERED inverted index (Bayardo et al.
    2007, "Scaling Up All Pairs Similarity Search" — public): the
    candidate-bound variant for corpora where Σ df² over postings explodes
    (boilerplate-heavy data pinned at the df cap).

    Exactness-preserving pruning: order every doc's shingles by ascending
    global document frequency (ties by shingle text — one canonical total
    order); if J(A,B) ≥ t, the first ``|A| − ⌈t·|A|⌉ + 1`` shingles of A
    and of B must share an element, so candidate pairs are generated ONLY
    from postings of *prefix* occurrences — the rare tail of the DF
    distribution. Survivors are verified exactly with one JVM
    ``array_intersect`` over the full capped sets.

    Plan shape: the postings shuffle already carries every shingle's DF as
    its posting length, so the per-doc (df, s) ordering is an IN-ROW
    ``sort_array`` after one re-group by doc — no window, no separate DF
    join. On the benchmark corpus this is ~2.3× SLOWER than
    :func:`jaccard_pairs` (the verify join outweighs the avoided pairs —
    measured at sf0.1, see that docstring); it exists for the adversarial
    DF profile where the co-occurrence plan's pair volume is the
    bottleneck. Same output, same oracle, hash-verified.
    """
    exploded = shingled.select(id_col, F.explode("shingles").alias("s"))
    # no checkpoint here: perdoc is posting's only consumer, so a
    # materialized copy would be pure overhead (perdoc itself IS pinned)
    posting = (
        exploded.groupBy("s")
        .agg(F.collect_list(F.col(id_col)).alias("docs"))
        .filter(F.size("docs") <= max_df)
    )
    # one re-group by doc yields everything the filter and the verifier
    # need: the full capped set in canonical (df, s) order, its size, and
    # the prefix slice. Prefix length for Jaccard t: sz - ceil(t*sz) + 1;
    # the 1e-9 slack on the ceil only ever LENGTHENS the prefix (more
    # candidates, still exact) — it can never shorten it past a
    # float-rounding boundary.
    plen = (
        F.size("fs")
        - F.ceil(F.lit(threshold) * F.size("fs") - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")
    perdoc = (
        posting.select(
            F.size("docs").alias("df"), "s", F.explode("docs").alias(id_col)
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("fs"))
        .select(
            id_col,
            F.col("fs.s").alias("set"),
            F.size("fs").alias("sz"),
            F.slice(F.col("fs.s"), F.lit(1), plen).alias("pre"),
        )
    )
    # candidate generation is a streaming self-equi-join on the prefix
    # postings (round 6: the packed collect_list + in-row C(n,2) flatten
    # OOMed on a single hot posting at sf10 — the _bucket_pairs lesson;
    # prefix shingles are the RARE tail by construction, but one
    # boilerplate shingle can still land in every doc of a template
    # family, and the join shape stays row-bounded no matter what)
    pp = perdoc.select(F.col(id_col), F.explode("pre").alias("s"))
    cand = (
        pp.select("s", F.col(id_col).alias("doc_a"))
        .join(
            pp.select(F.col("s").alias("_s"), F.col(id_col).alias("doc_b")),
            (F.col("s") == F.col("_s")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = perdoc.select(
        F.col(id_col).alias("doc_a"), F.col("set").alias("set_a"), F.col("sz").alias("sz_a")
    )
    sb = perdoc.select(
        F.col(id_col).alias("doc_b"), F.col("set").alias("set_b"), F.col("sz").alias("sz_b")
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("inter"),
        )
    )
    jacc = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return verified.select("doc_a", "doc_b", jacc.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


_NGRAM_JACCARD_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_TK} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_sh_sql()}) AS s FROM toks),
    capped AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh
      ) WHERE df <= {MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           inter / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter / (sa.sz + sb.sz - inter) >= {JACCARD_THRESHOLD}
    """


@query(
    "q_dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    description="exact n-gram jaccard near-dup pairs via inverted-index join "
    "with stop-shingle DF cap (extension mandate: dedup)",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(_shingled_docs(spark, sf_dir))


@query(
    "q_dedup_ngram_prefix",
    oracle=_NGRAM_JACCARD_ORACLE,
    description="the same exact n-gram jaccard pairs via Bayardo-style "
    "prefix filtering: candidates only from rarest-DF prefix postings, "
    "exact array_intersect verify — the plan for adversarial DF profiles "
    "where pair volume explodes; identical oracle, hash-verified "
    "(measured slower than the co-occurrence plan on this corpus — see "
    "jaccard_pairs_prefix docstring)",
    variant_of="q_dedup_ngram_jaccard",
)
def q_dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs_prefix(_shingled_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# SimHash near-dup (banded hamming)
# ---------------------------------------------------------------------------


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = SIMHASH_MAX_DIST,
) -> DataFrame:
    """Near-dup pairs at hamming distance <= max_dist on 60-bit SimHash.

    Candidate generation is *complete* by pigeonhole: 4 disjoint 15-bit bands;
    any pair within distance 3 must agree on >= 1 whole band, so the band
    equi-join finds every qualifying pair without an n² comparison.

    Tokenization materializes in its own JVM projection; the per-token md5
    and the fingerprint fold are fused in one Arrow kernel (exact integer
    ops — bit-identical to the Column formulation and the oracle).
    """
    # fan_out the pruned (id, text) projection: the Arrow fingerprint kernel
    # is map-side CPU and a one-row-group benchmark scan is a single
    # effective task (no-op at cluster scale)
    sigs = fan_out(docs.select(id_col, text_col)).select(
        id_col, tokens(text_col).alias("tk")
    ).select(
        id_col,
        simhash_from_tokens_arrow(F.col("tk"), SIMHASH_BITS).alias("sh"),
    )
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    banded = sigs.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.shiftright(F.col("sh"), b * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .cast("string"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    )
    pairs = _bucket_pairs(banded, "bk", id_col, ["sh"])
    return pairs.select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        hamming_distance(F.col("a.sh"), F.col("b.sh")).alias("dist"),
    ).filter(F.col("dist") <= max_dist)


def _simhash_sql() -> str:
    """DuckDB mirror of functions/hashing.py::simhash (60-bit, md5-derived)."""
    return f"""
      list_sum(list_transform(range({SIMHASH_BITS}), j ->
        CASE WHEN 2 * list_sum(list_transform(hashed, h -> (h >> j) & 1)) >= len(hashed)
             THEN (1::BIGINT << j) ELSE 0 END))
    """


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TK} AS tk FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hashed
      FROM toks
    ),
    sig AS (SELECT doc_id, {_simhash_sql()} AS sh FROM hs)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sh, b.sh)) AS dist
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {SIMHASH_MAX_DIST}
    """,
    description="SimHash near-dup pairs (hamming <= 3 on 60-bit fingerprints, "
    "complete via pigeonhole banding; Charikar 2002)",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle brute-forces all pairs (fine at sf0.01); the Spark plan uses
    banding so the same result is produced with an equi-join at any scale."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def simhash_pairs_wide(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = SIMHASH_MAX_DIST,
) -> DataFrame:
    """Near-dup pairs at hamming distance <= max_dist on a 120-bit SimHash
    (two 60-bit halves) with 4 disjoint 30-bit bands — the WIDE variant
    the sf10 measurement demanded (SCALE.md): banded candidate volume has
    two terms, the similar-family term (output-inherent — any complete
    scheme pays it) and the RANDOM-collision term n²·B/2^w, and at 500k
    docs the 60-bit fingerprint's 15-bit bands (w=15) make the random
    term dominate (measured exp 1.26). Widening to w=30 scales that term
    by 2^-15 — negligible until n ~ 10⁹ — while pigeonhole completeness
    for dist <= 3 is unchanged (4 disjoint bands). The price is a tighter
    similarity notion: hamming <= 3 of 120 bits is a stricter
    verbatim/boilerplate detector than <= 3 of 60 — exactly the regime
    SimHash is pinned to (use MinHash-LSH for fuzzy dedup).
    """
    sigs = fan_out(docs.select(id_col, text_col)).select(
        id_col, tokens(text_col).alias("tk")
    ).select(
        id_col,
        simhash_wide_from_tokens_arrow(F.col("tk")).alias("sw"),
    ).select(
        id_col, F.col("sw.lo").alias("lo"), F.col("sw.hi").alias("hi")
    )
    mask = (1 << 30) - 1
    band_vals = [
        F.col("lo").bitwiseAND(F.lit(mask)),
        F.shiftright(F.col("lo"), 30).bitwiseAND(F.lit(mask)),
        F.col("hi").bitwiseAND(F.lit(mask)),
        F.shiftright(F.col("hi"), 30).bitwiseAND(F.lit(mask)),
    ]
    banded = sigs.select(
        id_col,
        "lo",
        "hi",
        F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"{b}:"), v.cast("string"))
                    for b, v in enumerate(band_vals)
                ]
            )
        ).alias("bk"),
    )
    pairs = _bucket_pairs(banded, "bk", id_col, ["lo", "hi"])
    return pairs.select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        (
            hamming_distance(F.col("a.lo"), F.col("b.lo"))
            + hamming_distance(F.col("a.hi"), F.col("b.hi"))
        ).alias("dist"),
    ).filter(F.col("dist") <= max_dist)


def _simhash_wide_half_sql(lohex: int) -> str:
    """DuckDB majority fold over one 60-bit half; ``lohex`` is the 1-based
    start of the half's 15 hex chars in the md5 digest."""
    return f"""
      list_sum(list_transform(range(60), j ->
        CASE WHEN 2 * list_sum(list_transform(hw{lohex}, h -> (h >> j) & 1)) >= len(hw{lohex})
             THEN (1::BIGINT << j) ELSE 0 END))
    """


@query(
    "q_dedup_simhash_wide",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TK} AS tk FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hw1,
             list_transform(tk, t -> ('0x' || substr(md5(t), 16, 15))::BIGINT) AS hw16
      FROM toks
    ),
    sig AS (SELECT doc_id, {_simhash_wide_half_sql(1)} AS lo,
                   {_simhash_wide_half_sql(16)} AS hi FROM hs)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS dist
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
          <= {SIMHASH_MAX_DIST}
    """,
    description="SimHash near-dup pairs on a 120-bit fingerprint (two "
    "60-bit halves, 4 disjoint 30-bit bands — complete for hamming <= 3 "
    "by pigeonhole): the WIDE variant whose banded candidate generation "
    "keeps the random-collision term n²·B/2^30 negligible at corpus "
    "sizes where 15-bit bands go quadratic (found by the sf10 "
    "measurement, SCALE.md); hash-verified against the brute-force "
    "two-half oracle",
    variant_of="q_dedup_simhash",
)
def q_dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs_wide(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup groups: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the undirected near-dup graph by min-label
    propagation: every vertex repeatedly adopts the smallest label among
    itself and its neighbors until a fixpoint. Output: (doc_id, root) where
    root = the component's minimum doc id — the canonical representative a
    dedup pipeline keeps.

    Distribution shape: each round is one equi-join (labels onto edge
    endpoints) + one min-aggregation — all hash-partitioned on vertex id, no
    driver-side graph. A ``pin`` per round truncates the lineage
    (an iterative plan otherwise grows by one join per round and replans
    from scratch). Convergence detection: sum(label) strictly decreases
    while anything changes, so one cheap scalar action per round decides
    termination. Rounds needed = graph diameter; near-dup components are
    shallow (clusters of mutual near-copies), so propagation beats the
    log-round large-star/small-star alternative (Kiveris et al. 2014) until
    components get path-shaped — when max_iter rounds pass without a
    fixpoint, the function hands off to
    :func:`connected_components_star`, which finishes any diameter in
    O(log n) rounds (property-tested on a 1,000-deep path).

    This is also the engine's iterative-graph slot: the reference names
    "graph traversal" among its intended MapReduce workloads
    (reference: presentation.pptx, "What is MapReduce?" slide).
    """
    from go_web_mapreduce_spark.session import scoped_shuffle_partitions

    spark = edges.sparkSession
    # the edge list is orders of magnitude smaller than the corpus that
    # produced it; the fixpoint loop runs on few partitions so each round is
    # a handful of tasks, not 32 near-empty ones
    with scoped_shuffle_partitions(spark, 8):
        und = pin(
            edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
            .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
            .distinct()
        )
        labels = pin(
            und.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("lbl", F.col("id"))
        )
        prev_sum = labels.agg(F.sum("lbl")).first()[0]
        converged = False
        for _ in range(max_iter):
            msgs = (
                und.join(labels, und["src"] == labels["id"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("lbl").alias("nlbl"))
            )
            labels = pin(
                labels.join(msgs, "id", "left")
                .select(
                    "id",
                    F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias(
                        "lbl"
                    ),
                )
            )
            s = labels.agg(F.sum("lbl")).first()[0]
            if s == prev_sum:
                converged = True
                break
            prev_sum = s
    if not converged:
        # labels are still moving: the graph has components deeper than
        # max_iter hops (path-shaped chains). Hand off to the log-round
        # large-star/small-star variant, which converges in O(log n)
        # rounds regardless of diameter, instead of silently returning
        # wrong roots or dying on a tunable.
        return connected_components_star(edges, a_col, b_col)
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("root"))


def connected_components_star(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond" —
    public). Converges in O(log n) rounds even on path graphs, where plain
    min-label propagation needs diameter rounds; this is the deep-chain
    fallback :func:`connected_components` hands off to.

    Each round rewrites the edge set with two grouped passes:

    - **large-star**: every node u connects its strictly-larger neighbors
      to m(u) = min(N(u) ∪ {u}) — emits (v, m) for v ∈ N(u), v > u;
    - **small-star**: edges keyed by their larger endpoint; u connects its
      smaller neighbors (and itself) to m(u) — stars contract onto minima.

    Both passes are an aggregation plus an equi-join hash-partitioned on
    node id — no driver-side graph, lineage truncated per round. The
    fixpoint test is one scalar action on (count, Σ xxhash64(u,v)): the
    edge set at convergence is exactly the star forest (child → component
    min), which is the returned (doc_id, root) labeling.

    Output matches :func:`connected_components`: (doc_id, root) with
    root = the component's minimum id; isolated vertices cannot occur in
    an edge list and so are absent from both.
    """
    from go_web_mapreduce_spark.session import scoped_shuffle_partitions

    spark = edges.sparkSession
    with scoped_shuffle_partitions(spark, 8):
        e = pin(
            edges.select(
                F.col(a_col).alias("u"), F.col(b_col).alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        verts = pin(
            e.select(F.explode(F.array("u", "v")).alias("id"))
            .distinct()
        )
        prev_chk = None
        converged = e.limit(1).count() == 0  # no edges → nothing to contract
        for _ in range(max_iter):
            if converged:
                break
            # large-star: neighbors in both directions, rewire v > u to m(u)
            nb = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mn = (
                nb.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m"))
            )
            e = pin(
                nb.filter(F.col("v") > F.col("u"))
                .join(mn, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )
            # small-star: key each edge by its larger endpoint, contract the
            # smaller side (and the key itself) onto m(u)
            nb2 = e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            mn2 = nb2.groupBy("u").agg(F.min("v").alias("m"))
            e = pin(
                nb2.join(mn2, "u")
                .select(
                    F.explode(F.array(F.col("v"), F.col("u"))).alias("n"),
                    "m",
                )
                .filter(F.col("n") != F.col("m"))
                .select(F.col("n").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            chk = tuple(
                e.agg(
                    F.count("*"),
                    # decimal sum: int64 hash sums overflow under ANSI
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                ).first()
            )
            if chk == prev_chk:
                converged = True
            prev_chk = chk
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} rounds — at O(log n) rounds this implies "
            "an astronomically large component or a bug; raise max_iter"
        )
    # at fixpoint the edge set is the star forest (child → component min);
    # any vertex absent as a child is its component's root
    return verts.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("r")), "id", "left"
    ).select(
        F.col("id").alias("doc_id"),
        F.coalesce("r", F.col("id")).alias("root"),
    )


@query(
    "q_dedup_groups",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CAND_CTE},
    edges AS (
      SELECT doc_a, doc_b FROM cand WHERE {_N_MATCH_SQL} >= {MIN_MATCHING}
    ),
    und AS (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION
      SELECT doc_b, doc_a FROM edges
    ),
    reach(x, r) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.x
    )
    SELECT x AS doc_id, min(r) AS root FROM reach GROUP BY x
    """,
    description="dedup cluster assignment: connected components over the "
    "MinHash near-dup pairs via distributed min-label propagation "
    "(iterative joins, lineage-truncated per round); root = canonical doc "
    "to keep. Oracle walks the same graph with a recursive CTE",
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    cands = minhash_candidates(_shingled_docs(spark, sf_dir))
    edges = cands.filter(F.col("n_matching") >= MIN_MATCHING).select(
        "doc_a", "doc_b"
    )
    return connected_components(edges)


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs an existing (already-ingested) corpus
# ---------------------------------------------------------------------------

INCREMENTAL_SPLIT_FRACTION = 0.8  # first 80% of doc_ids = the "seen" corpus


def incremental_dedup_stats(
    seen: DataFrame, new: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Classify a new batch against an existing corpus by content hash:
    per source, how many new docs are exact duplicates of the seen corpus
    vs genuinely novel.

    Production shape: the seen side is just its DISTINCT hash set — at
    100 TB that's the compact dedup index you persist (bucketed by hash for
    a shuffle-free semi-join), never the corpus bodies. The join here is a
    left semi/anti pair expressed as one aggregation over a left join.
    """
    seen_hashes = seen.select(
        F.sha2(F.col(text_col), 256).alias("h")
    ).distinct()
    flagged = (
        new.select("source", F.sha2(F.col(text_col), 256).alias("h"))
        .join(seen_hashes.withColumn("_dup", F.lit(1)), "h", "left")
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.sum(F.coalesce("_dup", F.lit(0))).alias("n_dup_of_seen"),
        (F.count("*") - F.sum(F.coalesce("_dup", F.lit(0)))).alias("n_novel"),
    )


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH bounds AS (
      SELECT (min(doc_id) + CAST(floor((max(doc_id) - min(doc_id) + 1)
                 * {INCREMENTAL_SPLIT_FRACTION}) AS BIGINT)) AS cut
      FROM documents
    ),
    seen AS (SELECT DISTINCT md5(text) AS h FROM documents, bounds WHERE doc_id < cut),
    new_docs AS (SELECT source, md5(text) AS h FROM documents, bounds WHERE doc_id >= cut),
    flagged AS (
      SELECT n.source, CASE WHEN s.h IS NULL THEN 0 ELSE 1 END AS dup
      FROM new_docs n LEFT JOIN seen s ON n.h = s.h
    )
    SELECT source, count(*) AS n_new,
           CAST(sum(dup) AS BIGINT) AS n_dup_of_seen,
           CAST(count(*) - sum(dup) AS BIGINT) AS n_novel
    FROM flagged GROUP BY source
    """,
    description="incremental dedup: a new ingest batch (top 20% of doc_ids) "
    "checked against the already-seen corpus's content-hash index — the "
    "production dedup shape (batch vs persisted hash set), exact via "
    "semi-join semantics (extension mandate: dedup)",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 vs sha2 note: the engine indexes on sha256; the oracle's md5 set
    gives identical dup/novel classification (both are injective on this
    corpus), keeping the check hash-portable without cross-engine sha2."""
    docs = load_table(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + int((hi - lo + 1) * INCREMENTAL_SPLIT_FRACTION)
    seen = docs.filter(F.col("doc_id") < cut)
    new = docs.filter(F.col("doc_id") >= cut)
    return incremental_dedup_stats(seen, new)


def incremental_minhash_stats(
    new_banded: DataFrame, seen_banded: DataFrame, new_docs: DataFrame
) -> DataFrame:
    """Classify a new batch against an existing corpus's LSH index by
    NEAR-duplication: per source, how many new docs are MinHash near-dups
    (est. jaccard ≥ {MIN_MATCHING}/{NUM_HASHES}) of any seen doc.

    Inputs are banded signature tables — (doc_id, sig, bk) with one row
    per band key, :func:`minhash_candidates`'s intermediate — plus the new
    batch's (doc_id, source) rows. Production shape: ``seen_banded`` is
    the persisted LSH index (band-key-bucketed (bk, doc_id, sig) rows —
    the near-dup analogue of q_dedup_incremental's content-hash set, ~
    bands × 8-byte keys per indexed doc, never the corpus bodies); the
    batch is shingled/signed map-side and equi-joined against the index
    on band key, so the work is batch-sized, not corpus-sized, and the
    corpus itself is never re-scanned. The band join is the only
    candidate generator — no all-pairs stage exists at any scale.
    """
    cand = (
        new_banded.select(
            "bk",
            F.col("doc_id").alias("new_doc"),
            F.col("sig").alias("sig_new"),
        )
        .join(
            seen_banded.select(
                F.col("bk"),
                F.col("doc_id").alias("seen_doc"),
                F.col("sig").alias("sig_seen"),
            ),
            "bk",
        )
        # a (new, seen) pair can collide in several bands — count it once
        .dropDuplicates(["new_doc", "seen_doc"])
    )
    n_matching = F.aggregate(
        F.zip_with(
            "sig_new", "sig_seen", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    hits = (
        cand.select("new_doc", n_matching.alias("nm"))
        .filter(F.col("nm") >= MIN_MATCHING)
        .select("new_doc")
        .distinct()
    )
    flagged = new_docs.join(hits.withColumn("_dup", F.lit(1)), "new_doc", "left")
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.sum(F.coalesce("_dup", F.lit(0))).alias("n_neardup_of_seen"),
        (F.count("*") - F.sum(F.coalesce("_dup", F.lit(0)))).alias("n_novel"),
    )


@query(
    "q_dedup_incremental_minhash",
    oracle=f"""
    WITH bounds AS (
      SELECT (min(doc_id) + CAST(floor((max(doc_id) - min(doc_id) + 1)
                 * {INCREMENTAL_SPLIT_FRACTION}) AS BIGINT)) AS cut
      FROM documents
    ),
    {_MINHASH_BANDED_CTE},
    nb AS (SELECT b.* FROM banded b, bounds WHERE b.doc_id >= cut),
    sb AS (SELECT b.* FROM banded b, bounds WHERE b.doc_id < cut),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_doc, s.doc_id AS seen_doc,
             n.sig AS sig_a, s.sig AS sig_b
      FROM nb n JOIN sb s ON n.bk = s.bk
    ),
    hits AS (
      SELECT DISTINCT new_doc FROM cand WHERE {_N_MATCH_SQL} >= {MIN_MATCHING}
    ),
    newd AS (SELECT doc_id, source FROM documents, bounds WHERE doc_id >= cut),
    flagged AS (
      SELECT n.source, CASE WHEN h.new_doc IS NULL THEN 0 ELSE 1 END AS dup
      FROM newd n LEFT JOIN hits h ON h.new_doc = n.doc_id
    )
    SELECT source, count(*) AS n_new,
           CAST(sum(dup) AS BIGINT) AS n_neardup_of_seen,
           CAST(count(*) - sum(dup) AS BIGINT) AS n_novel
    FROM flagged GROUP BY source
    """,
    description="incremental NEAR-dedup: a new ingest batch (top 20% of "
    "doc_ids) LSH-banded against the already-seen corpus's persisted "
    "MinHash index — the batch-vs-corpus twin of q_dedup_incremental "
    f"(exact hashes) at est. jaccard ≥ {MIN_MATCHING}/{NUM_HASHES}: "
    "band keys of the batch equi-join the index's band buckets, matched "
    "signature components verify, and the per-source novelty report "
    "comes out the other end (VERDICT r10 item 7; extension mandate: "
    "dedup)",
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: each side shingles/signs only ITS half of the
    corpus (the doc_id filters push into both parquet scans, so total
    Arrow-kernel work is one corpus pass split across the two sides —
    and in production the seen side is read pre-signed from the persisted
    index, making the whole job batch-sized). The band equi-join hash-
    partitions on bk exactly like minhash_candidates' self-join; only
    (bk, id, 12-int sig) rows ever shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut = lo + int((hi - lo + 1) * INCREMENTAL_SPLIT_FRACTION)
    shingled = _shingled_docs(spark, sf_dir)
    sig = shingled.select(
        "doc_id", minhash_sig_arrow(F.col("shingles"), NUM_HASHES).alias("sig")
    )
    banded = sig.select(
        "doc_id",
        "sig",
        F.explode(band_keys(F.col("sig"), BANDS, ROWS_PER_BAND)).alias("bk"),
    )
    new_docs = docs.filter(F.col("doc_id") >= cut).select(
        F.col("doc_id").alias("new_doc"), "source"
    )
    return incremental_minhash_stats(
        banded.filter(F.col("doc_id") >= cut),
        banded.filter(F.col("doc_id") < cut),
        new_docs,
    )


# ---------------------------------------------------------------------------
# candidate → exact-verify: the production LSH pipeline's second stage
# ---------------------------------------------------------------------------


def verify_candidates_exact(
    cands: DataFrame, shingled: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact jaccard for each candidate pair by joining the shingle sets
    back onto the (small) candidate list — the verify stage that turns LSH
    candidates into confirmed near-dups.

    Scale shape: candidates are orders of magnitude fewer than the corpus,
    so the two joins ship shingle arrays only for candidate members; the
    set math (array_intersect / array_union) runs per pair, no shuffle
    beyond the joins. This is why LSH banding + exact verify beats exact
    all-pairs: the O(n²) part never materializes.
    """
    sa = shingled.select(
        F.col(id_col).alias("doc_a"), F.col("shingles").alias("_sa")
    )
    sb = shingled.select(
        F.col(id_col).alias("doc_b"), F.col("shingles").alias("_sb")
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size(F.array_union("_sa", "_sb"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_matching",
            (inter.cast("double") / union).alias("exact_jaccard"),
        )
    )


@query(
    "q_dedup_verify",
    oracle=f"""
    WITH {_MINHASH_CAND_CTE},
    est AS (
      SELECT doc_a, doc_b, CAST({_N_MATCH_SQL} AS BIGINT) AS n_matching
      FROM cand WHERE {_N_MATCH_SQL} >= {MIN_MATCHING}
    )
    SELECT est.doc_a, est.doc_b, est.n_matching,
           len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(a.shingles || b.shingles)) AS exact_jaccard
    FROM est
    JOIN sh a ON a.doc_id = est.doc_a
    JOIN sh b ON b.doc_id = est.doc_b
    """,
    description="LSH candidate→exact-verify: every MinHash candidate pair "
    "re-scored with its TRUE jaccard via shingle-set intersection — the "
    "production second stage that bounds false positives; estimate and "
    "exact score emitted side by side (extension mandate: dedup)",
)
def q_dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingled = _shingled_docs(spark, sf_dir)
    cands = minhash_candidates(shingled).filter(
        F.col("n_matching") >= MIN_MATCHING
    )
    return verify_candidates_exact(cands, shingled)


# ---------------------------------------------------------------------------
# q_decontaminate — eval-set n-gram contamination check
# ---------------------------------------------------------------------------

DECON_K = 4  # word n-gram width; production decontamination uses 8-13
DECON_MOD = 97  # eval set = doc_id % DECON_MOD == 0 (deterministic holdout)


def decon_train_and_hits(spark: SparkSession, sf_dir: str):
    """Shared decontamination core (used by q_decontaminate and
    q_corpus_pipeline): returns (train docs with shingle sets, distinct
    contaminated doc_ids); train keeps the text column so composing
    pipelines can gate on content. fan_out widens the CPU-bound Arrow shingle
    kernel past the byte-sized scan partitioning (no-op at real scale)."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = fan_out(docs.select("doc_id", "source", "text")).select(
        "doc_id",
        "source",
        "text",
        distinct_shingles_arrow(tokens("text"), DECON_K).alias("sh"),
    )
    is_eval = F.col("doc_id") % DECON_MOD == 0
    ev = (
        shingled.filter(is_eval)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    train = shingled.filter(~is_eval)
    hit = (
        train.select("doc_id", F.explode("sh").alias("s"))
        .join(F.broadcast(ev), "s")
        .select("doc_id")
        .distinct()
    )
    return train, hit


@query(
    "q_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(tk) - {DECON_K - 1}, 1) + 1),
                   i -> array_to_string(tk[i:i + {DECON_K - 1}], ' ')))) AS s
        FROM toks
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {DECON_MOD} = 0),
    hit AS (
        SELECT DISTINCT sh.doc_id
        FROM sh JOIN ev USING (s)
        WHERE sh.doc_id % {DECON_MOD} <> 0
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(count(hit.doc_id) AS BIGINT) AS n_contaminated
    FROM (SELECT doc_id, source FROM documents
          WHERE doc_id % {DECON_MOD} <> 0) t
    LEFT JOIN hit ON t.doc_id = hit.doc_id
    GROUP BY 1
    """,
    description=f"benchmark decontamination: training docs sharing any "
    f"{DECON_K}-gram with the held-out eval slice (doc_id % {DECON_MOD} = 0) "
    "are flagged; per-source train size and contaminated count, "
    "hash-verified (extension mandate: dedup / training-data hygiene)",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-contamination pass every LLM training pipeline runs before
    a data release: any training document that shares an n-gram with the
    evaluation set is flagged (the GPT-3/PaLM-style n-gram overlap rule,
    here with k=DECON_K=4 scaled to the synthetic corpus; production uses
    8-13).

    Scale: the eval side is benchmarks — MBs against a 100 TB train corpus
    — so its distinct shingle set is BROADCAST and the train side never
    shuffles: flagging is a map-side broadcast semi-join over the exploded
    train shingles, followed by one per-source aggregate. The train corpus
    is read once; shingling is the Arrow kernel shared with the dedup
    family (functions/text.py::distinct_shingles_arrow).
    """
    train, hit = decon_train_and_hits(spark, sf_dir)
    return (
        train.select("doc_id", "source")
        .join(hit.withColumn("c", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("c").alias("n_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# exact-substring duplicate spans (ExactSubstr-style window statistics)
# ---------------------------------------------------------------------------

# window length in tokens: every length-SPAN_K token window that occurs >= 2
# times across the corpus (counting multiplicity, within- and cross-document)
# is a duplicated span — the signal ExactSubstr dedup (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better", public) excises.
# Production uses ~50 tokens; 8 fits the synthetic corpus's ~10-400-token docs.
SPAN_K = 8


def duplicate_span_stats(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Per-document duplicated-window statistics: for every document with
    >= ``k`` tokens, how many of its length-``k`` token windows also occur
    elsewhere in the corpus (any other position, same or different doc).

    Returns ``(doc_id, source, n_windows, n_dup_windows)``.

    Scale shape (the ExactSubstr plan re-expressed relationally — the
    suffix-array formulation is a single-machine algorithm, this is the
    equivalent windowed-fingerprint pass):
    - window multiplicities per doc come from ONE map-side Arrow pass
      (functions/text.py::shingle_counts_arrow) — full gram strings never
      leave the stage: they are hashed to 60-bit md5-derived longs before
      the explode reaches a shuffle, so shuffle bytes are
      #distinct-windows-per-doc × 16, independent of window text length;
    - global occurrence counts come from an unbounded SUM OVER
      (PARTITION BY gh) window on those same rows — one shuffle, one scan,
      one run of the shingle kernel. The groupBy(gh)-then-self-join
      formulation is value-identical but duplicates the scan+kernel
      subtree (Catalyst does not reuse it), i.e. 2× the dominant cost at
      100 TB;
    - a window is duplicated iff its GLOBAL multiplicity >= 2, which the
      per-doc multiplicity map makes exact for within-doc repeats too.
    """
    toks = tokens("text")
    # fan_out the pruned projection: tokenize + the Arrow shingle kernel are
    # map-side CPU on the scan (one effective task on a one-row-group
    # benchmark file; no-op at cluster scale)
    eligible = fan_out(docs.select("doc_id", "source", "text")).filter(
        F.size(toks) >= k
    )
    local = eligible.select(
        "doc_id",
        "source",
        F.explode(shingle_counts_arrow(toks, k)).alias("g", "c"),
    ).select(
        "doc_id",
        "source",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint").alias("gh"),
        "c",
    )
    gcount = F.sum("c").over(Window.partitionBy("gh"))
    return (
        local.withColumn("gcount", gcount)
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_windows"),
            F.sum(F.when(F.col("gcount") >= 2, F.col("c")).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
    )


@query(
    "q_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TK} AS tk FROM documents
    ), eligible AS (
      SELECT * FROM toks WHERE len(tk) >= {SPAN_K}
    ), grams AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(array_to_string(tk[i:i+{SPAN_K - 1}], ' ')),
                             1, 15))::BIGINT AS gh
      FROM eligible, unnest(range(1, len(tk) - {SPAN_K} + 2)) AS t(i)
    ), local AS (
      SELECT doc_id, source, gh, count(*) AS c FROM grams GROUP BY ALL
    ), gtot AS (
      SELECT gh, sum(c) AS gcount FROM local GROUP BY gh
    ), perdoc AS (
      SELECT doc_id, any_value(source) AS source,
             CAST(sum(c) AS BIGINT) AS n_windows,
             CAST(sum(CASE WHEN gcount >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS n_dup_windows
      FROM local JOIN gtot USING (gh) GROUP BY doc_id
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_windows) AS BIGINT) AS windows,
           CAST(sum(n_dup_windows) AS BIGINT) AS dup_windows,
           CAST(sum(n_dup_windows) AS DOUBLE) / CAST(sum(n_windows) AS DOUBLE)
             AS dup_frac,
           max(CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE))
             AS max_doc_dup_frac
    FROM perdoc GROUP BY source
    """,
    description="exact-substring duplicate spans: fraction of 8-token windows "
    "occurring >= 2x corpus-wide, per source (ExactSubstr signal, Lee et al. "
    "2022; extension mandate: dedup)",
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level ExactSubstr duplication report: per source, the number
    of eligible documents, total / duplicated window counts, the duplicated
    fraction, and the worst single document's duplicated fraction.

    Both ratio columns are a SINGLE IEEE division of two exact integers, so
    they hash-match the oracle bit-for-bit (no float-accumulation ordering
    anywhere). Reference scope note: the reference engine has no dedup
    surface at all (its only text op is the word-count map UDF,
    server/views.go:53-55) — this is the extension mandate's training-data
    pipeline family.
    """
    docs = load_table(spark, sf_dir, "documents")
    perdoc = duplicate_span_stats(docs, SPAN_K)
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_windows").alias("windows"),
        F.sum("n_dup_windows").alias("dup_windows"),
        (
            F.sum("n_dup_windows").cast("double")
            / F.sum("n_windows").cast("double")
        ).alias("dup_frac"),
        F.max(
            F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double")
        ).alias("max_doc_dup_frac"),
    )


# ---------------------------------------------------------------------------
# cross-source overlap matrix (content leakage between corpus sources)
# ---------------------------------------------------------------------------

# shingle width for the source-level containment matrix: long enough that a
# shared gram means shared CONTENT (not shared phrasing), short enough to
# catch partial/quoted overlap that exact-hash dedup misses
OVERLAP_K = 5


@query(
    "q_source_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT source, {_TK} AS tk FROM documents
    ), sh AS (
      SELECT DISTINCT source,
             ('0x' || substr(md5(array_to_string(tk[i:i+{OVERLAP_K - 1}], ' ')),
                             1, 15))::BIGINT AS gh
      FROM toks, unnest(range(1, len(tk) - {OVERLAP_K} + 2)) AS t(i)
      WHERE len(tk) >= {OVERLAP_K}
    ), sizes AS (
      SELECT source, count(*) AS n_grams FROM sh GROUP BY source
    ), shared AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.gh = b.gh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared,
           CAST(n_shared AS DOUBLE)
             / CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE) AS containment
    FROM shared
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
    description="cross-source overlap matrix: shared distinct 5-grams and "
    "containment ratio per source pair — content leakage between corpus "
    "sources (extension mandate: dedup)",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every source pair that shares at least one distinct 5-gram:
    the shared-gram count and the containment ratio
    ``n_shared / min(|grams_a|, |grams_b|)`` — the matrix a pipeline
    operator reads before mixing sources (a high-containment pair means
    one source largely republishes the other, so mixture weights
    double-count it).

    Scale shape: grams become 60-bit md5-derived longs map-side; ONE
    shuffle builds the distinct (source, gh) set. Pair generation then
    groups by gh and expands ordered pairs IN-ROW from the per-gram
    source set — bounded by the source dimension (20 here; sources are a
    dimension, they do not grow with corpus bytes), so there is no
    gram-level self-join and no corpus² anywhere. Per-source gram
    cardinalities (a 20-row aggregate) broadcast back for the
    containment denominator. The DuckDB oracle uses the equivalent
    self-join formulation — same pair set, same counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    sh = (
        fan_out(docs.select("source", "text")).filter(F.size(toks) >= OVERLAP_K)
        .select(
            "source",
            F.explode(distinct_shingles_arrow(toks, OVERLAP_K)).alias("g"),
        )
        .select(
            "source",
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint").alias("gh"),
        )
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    # per-gram sorted source set; ordered pairs expand inside the row
    # (two-arg transform gives (element, index); slice is 1-based)
    ss = F.array_sort(F.collect_set("source"))
    pairs = (
        sh.groupBy("gh")
        .agg(ss.alias("ss"))
        .filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ss",
                        lambda x, i: F.transform(
                            F.slice(F.col("ss"), i + F.lit(2), F.size(F.col("ss"))),
                            lambda y: F.struct(
                                x.alias("src_a"), y.alias("src_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_grams").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("na", "nb").cast("double")
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_containment — asymmetric (quote-inclusion) near-dup pairs
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.8  # |A ∩ B| / min(|A|, |B|)


def containment_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = CONTAIN_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Pairs where the smaller shingle set is mostly inside the larger:
    containment = inter / min(sz_a, sz_b). Catches the asymmetric dups
    jaccard structurally misses — a document quoted whole inside a much
    longer one has jaccard ≈ |A|/|B| (arbitrarily small) but containment
    ≈ 1. Same inverted-index co-occurrence core as :func:`jaccard_pairs`
    (same single posting shuffle, same DF cap), different final score."""
    scored = _cooccurrence_scored(shingled, id_col, max_df)
    contain = F.col("inter") / F.least("sz_a", "sz_b")
    jacc = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        scored.select(
            "doc_a", "doc_b",
            contain.alias("containment"),
            jacc.alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
    )


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TK} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_sh_sql()}) AS s FROM toks),
    capped AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh
      ) WHERE df <= {MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           inter / least(sa.sz, sb.sz) AS containment,
           inter / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter / least(sa.sz, sb.sz) >= {CONTAIN_THRESHOLD}
    """,
    description="asymmetric containment near-dup pairs: inter / min(|A|,|B|) "
    f">= {CONTAIN_THRESHOLD} over DF-capped shingle sets — catches a short "
    "document quoted whole inside a long one, where jaccard ~ |A|/|B| stays "
    "under any sane threshold (the quote-inclusion dups every crawl corpus "
    "carries). Same single-shuffle inverted-index co-occurrence plan as "
    "q_dedup_ngram_jaccard (the intersection falls out of the pair count; "
    "no verify pass), reporting both scores so downstream policy can "
    "distinguish symmetric from inclusion duplicates",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(_shingled_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# passage-level exact dedup (CCNet-style keep-first line/paragraph dedup)
# ---------------------------------------------------------------------------

PASSAGE_TOKENS = 16  # non-overlapping passage width, in tokens

_PASSAGE_TK = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


@query(
    "q_passage_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_PASSAGE_TK} AS tk FROM documents
    ), inst AS (
      SELECT doc_id, source,
             CAST((s - 1) // {PASSAGE_TOKENS} AS BIGINT) AS pos,
             len(list_slice(tk, s, s + {PASSAGE_TOKENS - 1})) AS n_tokens,
             md5(array_to_string(list_slice(tk, s, s + {PASSAGE_TOKENS - 1}),
                                 ' ')) AS h
      FROM (SELECT doc_id, source, tk,
                   unnest(range(1, greatest(len(tk), 1) + 1,
                                {PASSAGE_TOKENS})) AS s
            FROM t)
      WHERE len(list_slice(tk, s, s + {PASSAGE_TOKENS - 1})) > 0
    ), winner AS (
      SELECT h, doc_id AS w_doc, pos AS w_pos FROM inst
      QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1
    )
    SELECT i.source,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(count(DISTINCT i.h) AS BIGINT) AS distinct_passages,
           CAST(sum(CASE WHEN i.doc_id = w.w_doc AND i.pos = w.w_pos
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(i.n_tokens) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN i.doc_id = w.w_doc AND i.pos = w.w_pos
                         THEN i.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM inst i JOIN winner w ON w.h = i.h
    GROUP BY i.source
    """,
    description=f"passage-level exact dedup (the CCNet/C4 line-dedup shape, "
    f"Wenzek 2020): documents split into non-overlapping "
    f"{PASSAGE_TOKENS}-token passages, each passage kept only at its first "
    "corpus occurrence — the global (doc_id, pos) minimum per content hash "
    "— and dropped everywhere else; per-source census of instances, "
    "distinct passages, kept instances, and token retention. All-integer "
    "output: zero float surface. Plan: map-side explode (no shuffle) → "
    "one groupBy on the passage hash with map-side partial min (the "
    "winner table is distinct-passage-sized) → hash-equi join back. "
    "Boilerplate passages make a skewed join key at corpus scale — AQE "
    "skew-join splits them (proven in tests/test_sinks_skew.py); the "
    "winner side stays one row per hash regardless",
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage dedup differs from q_dedup_exact (whole-document) and
    q_chunk_documents (chunking without dedup): the unit is the passage and
    the policy is keep-FIRST by global (doc_id, pos) order — the rule CCNet
    applies to lines so a duplicated paragraph survives exactly once
    corpus-wide. Reference parity: the reference's data plane has no dedup
    at all (extension mandate)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens("text")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(tk), F.lit(1)), F.lit(PASSAGE_TOKENS)
    )
    passage = F.slice(F.col("tk"), F.col("s"), PASSAGE_TOKENS)
    inst = (
        fan_out(docs.select("doc_id", "source", "text"))
        .select("doc_id", "source", tk.alias("tk"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            "source",
            ((F.col("s") - 1) / PASSAGE_TOKENS).cast("long").alias("pos"),
            F.size(passage).alias("n_tokens"),
            F.md5(F.array_join(passage, " ")).alias("h"),
        )
        .where(F.col("n_tokens") > 0)
    )
    winner = inst.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    )
    kept = F.when(
        (F.col("doc_id") == F.col("w.doc_id")) & (F.col("pos") == F.col("w.pos")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        inst.join(winner, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.count_distinct("h").alias("distinct_passages"),
            F.sum(kept).alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum(F.col("n_tokens") * kept).cast("long").alias("tokens_kept"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_edit_distance — prefix-blocked candidates verified by Levenshtein
# ---------------------------------------------------------------------------

EDIT_PFX = 32        # block key: first 32 chars must match exactly
EDIT_LEN_BAND = 5    # candidate length band: |La-Lb| * 5 <= max(La, Lb)
EDIT_SIM_PPM = 900_000  # keep pairs with >= 90% character similarity


@query(
    "q_dedup_edit_distance",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, substr(text, 1, {EDIT_PFX}) AS pfx,
               length(text) AS len FROM documents
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(a.text, b.text) AS dist,
               greatest(a.len, b.len) AS max_len
        FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        WHERE abs(a.len - b.len) * {EDIT_LEN_BAND} <= greatest(a.len, b.len)
          AND greatest(a.len, b.len) > 0
    )
    SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist,
           CAST((max_len - dist) * 1000000 // max_len AS BIGINT) AS sim_ppm
    FROM cand
    WHERE (max_len - dist) * 1000000 // max_len >= {EDIT_SIM_PPM}
    """,
    description="edit-distance near-dup verification: candidate pairs from "
    f"exact {EDIT_PFX}-char-prefix blocking + a ±20% length band, verified "
    "by character Levenshtein (both engines' native C implementation of "
    "the same classic DP); pairs kept at ≥90% similarity, reported with "
    "the exact integer distance and a floor-divided integer sim_ppm — the "
    "character-level complement of the token-set jaccard family "
    "(edit distance catches single-char paraphrase edits that shift every "
    "shingle; the blocking keys make the quadratic DP run only on a "
    "candidate set linear in the duplicate count). Block-size² pair "
    "growth is the residual hazard — q_dedup_edit_distance_snm is the "
    "Θ(n·W) sorted-neighborhood scale twin (measured full recall here)",
)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking is the whole 100 TB story here: Levenshtein is O(len²) per
    pair, so the engine must never schedule it on an unblocked pair set.
    Exact-prefix blocking is one hash shuffle of (prefix → doc), the length
    band prunes in-block, and the DP runs only on surviving candidates —
    the same plan records-linkage systems use (block → compare → score).
    The trade is recall: a near-dup whose FIRST 32 chars differ is not a
    candidate (that shape belongs to q_dedup_minhash, whose shingle
    sampling is position-invariant); this operator is the high-precision
    verifier for head-anchored copies — boilerplate re-issues, suffix
    edits, appended signatures. Everything reported is an exact integer
    (distance, floor-divided ppm), so the hash check has no float surface.
    Spark's levenshtein and DuckDB's implement the same unit-cost DP over
    Unicode code points — asserted equal at sf0.01/sf1 by the oracle run,
    including CJK texts where byte-level implementations would diverge."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.substring("text", 1, EDIT_PFX).alias("pfx"),
        F.length("text").alias("len"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"),
        "pfx", F.col("len").alias("la"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"),
        "pfx", F.col("len").alias("lb"),
    )
    cand = (
        a.join(b, "pfx")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            F.abs(F.col("la") - F.col("lb")) * EDIT_LEN_BAND
            <= F.greatest("la", "lb")
        )
        # two empty texts would divide by zero in sim_ppm (NULL in Spark,
        # an error in DuckDB — a cross-engine divergence); stated in both
        # engines rather than relying on the fixture's non-empty invariant
        .where(F.greatest("la", "lb") > 0)
        # optimization BARRIER, load-bearing (measured 81 -> 8 s at sf1):
        # without it Catalyst pushes the sim_ppm predicate into the join
        # condition, evaluating levenshtein for every same-prefix pair
        # BEFORE the cheap doc_a < doc_b prune (stated last in the fused
        # condition) and then a second time in the projection for the
        # survivors. Pinning the candidate set keeps the DP where the
        # plan means it: once per banded candidate, after every cheap
        # filter. The pinned table is candidate-sized, never corpus-sized.
    )
    cand = pin(cand)
    # thresholded DP: the keep predicate floor((m-d)·10⁶/m) >= 9·10⁵ is
    # exactly d <= m DIV 10 (integer d), so running Spark's banded
    # early-exit levenshtein at that threshold returns the true distance
    # for every kept pair and -1 (dropped below) for every pair the full
    # DP would have filtered — identical rows and values, O(len·maxdist)
    # per pair instead of O(len²). The oracle keeps the full DP + filter,
    # proving the equivalence at every verified scale.
    scored = cand.select(
        "doc_a",
        "doc_b",
        F.expr(
            "CAST(levenshtein(ta, tb, greatest(la, lb) DIV 10) AS BIGINT)"
        ).alias("dist"),
        F.greatest("la", "lb").alias("max_len"),
    ).where(F.col("dist") >= 0)
    return scored.select(
        "doc_a",
        "doc_b",
        "dist",
        # integer floor-div (DIV) to match the oracle's // exactly
        F.expr("CAST((max_len - dist) * 1000000 DIV max_len AS BIGINT)").alias(
            "sim_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# q_dedup_edit_distance_snm — sorted-neighborhood scale twin
# ---------------------------------------------------------------------------

SNM_WINDOW = 8  # compare each doc to its next 8 neighbors in block-len order


@query(
    "q_dedup_edit_distance_snm",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, substr(text, 1, {EDIT_PFX}) AS pfx,
               length(text) AS len,
               row_number() OVER (PARTITION BY substr(text, 1, {EDIT_PFX})
                                  ORDER BY length(text), doc_id) AS rnk
        FROM documents
    ),
    cand AS (
        SELECT least(a.doc_id, b.doc_id) AS doc_a,
               greatest(a.doc_id, b.doc_id) AS doc_b,
               levenshtein(a.text, b.text) AS dist,
               greatest(a.len, b.len) AS max_len
        FROM d a JOIN d b
          ON a.pfx = b.pfx
         AND b.rnk - a.rnk BETWEEN 1 AND {SNM_WINDOW}
        WHERE abs(a.len - b.len) * {EDIT_LEN_BAND} <= greatest(a.len, b.len)
          AND greatest(a.len, b.len) > 0
    )
    SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist,
           CAST((max_len - dist) * 1000000 // max_len AS BIGINT) AS sim_ppm
    FROM cand
    WHERE (max_len - dist) * 1000000 // max_len >= {EDIT_SIM_PPM}
    """,
    description="sorted-neighborhood edit-distance dedup (Hernández & "
    f"Stolfo 1995), the SCALE path of q_dedup_edit_distance: within each "
    f"{EDIT_PFX}-char-prefix block, docs sorted by (length, id) and each "
    f"compared only to its next {SNM_WINDOW} neighbors — candidates are "
    "Θ(n·W) BY CONSTRUCTION, so a degenerate boilerplate block of a "
    "million docs costs 8M comparisons instead of 5·10¹¹; near-identical "
    "texts have near-identical lengths, so true pairs sit adjacent in "
    "the sort order and survive the window (every exact-variant pair at "
    "the verified scales does). Same banded-threshold DP, same integer "
    "output surface; hash-verified against the window-mirrored oracle",
)
def q_dedup_edit_distance_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unwindowed primary is exact within its blocks but inherits the
    block-size² pair count — fine while blocks are duplicate-group-sized,
    catastrophic if one prefix is corporate boilerplate. SNM is the
    standard record-linkage fix: a global (here: in-block) sort key that
    places near-dups adjacently, then a constant-width comparison window.
    Recall trade, stated: a true pair separated by > W same-prefix docs
    of intermediate length is missed; at the verified scales the window
    loses zero pairs (asserted in tests against the exact variant on the
    base corpus). One window shuffle (pfx) + one rank-band self-join —
    both linear in docs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.substring("text", 1, EDIT_PFX).alias("pfx"),
        F.length("text").alias("len"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("pfx").orderBy("len", "doc_id")
        ),
    )
    a = d.select(
        F.col("doc_id").alias("ida"), F.col("text").alias("ta"),
        "pfx", F.col("len").alias("la"), F.col("rnk").alias("ra"),
    )
    b = d.select(
        F.col("doc_id").alias("idb"), F.col("text").alias("tb"),
        "pfx", F.col("len").alias("lb"), F.col("rnk").alias("rb"),
    )
    cand = (
        a.join(b, "pfx")
        .where(
            (F.col("rb") - F.col("ra") >= 1)
            & (F.col("rb") - F.col("ra") <= SNM_WINDOW)
        )
        .where(
            F.abs(F.col("la") - F.col("lb")) * EDIT_LEN_BAND
            <= F.greatest("la", "lb")
        )
        # same empty-text division guard as the exact variant
        .where(F.greatest("la", "lb") > 0)
        # same load-bearing barrier as the exact variant: keep the DP out
        # of the join condition
    )
    cand = pin(cand)
    scored = cand.select(
        F.least("ida", "idb").alias("doc_a"),
        F.greatest("ida", "idb").alias("doc_b"),
        F.expr(
            "CAST(levenshtein(ta, tb, greatest(la, lb) DIV 10) AS BIGINT)"
        ).alias("dist"),
        F.greatest("la", "lb").alias("max_len"),
    ).where(F.col("dist") >= 0)
    return scored.select(
        "doc_a",
        "doc_b",
        "dist",
        F.expr("CAST((max_len - dist) * 1000000 DIV max_len AS BIGINT)").alias(
            "sim_ppm"
        ),
    )
