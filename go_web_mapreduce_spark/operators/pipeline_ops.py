"""Training-data pipeline operators: deterministic splits and samples, PII
redaction, repetition filtering, document chunking, SCD2 change tracking, and
Z-order clustering.

These extend the engine beyond the reference's MapReduce surface (the
reference expresses them only as user map/reduce UDFs — algorithm.go's
open-coded slots); here each is a declarative DataFrame plan with an exact
DuckDB oracle, so the whole family is hash-verified cross-engine.

Cross-engine determinism strategy (same discipline as text_analysis.py):
every decision is made on *integers* — md5-derived hash buckets, token
counts, scaled-integer ratios (ppm), Morton bit arithmetic — and the SQL
expression text for the hashing/bit-twiddling is *generated once* by the
helpers below and embedded in both the Spark plan (``F.expr``) and the
DuckDB oracle, so the two engines cannot drift. Only dialect-forced
differences (STRING vs VARCHAR, ``div`` vs ``//``, regexp 'g' flag) go
through tiny per-dialect shims.

100 TB shape: the split / sample / redaction / repetition / chunking
operators are single map-side passes over the documents or customer scan
with aggregation only on small keys (source, lang, nation, split) — no
shuffle of document bodies. SCD2 shuffles once on user_id (the natural
partitioning of a change-history build). Reservoir sampling pre-filters
map-side by hash threshold so the per-key window sort sees a tiny survivor
set, not the corpus (the knob that keeps k-per-key sampling viable when one
key holds billions of rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions.numeric import dsum
from go_web_mapreduce_spark.functions.text import tokens
from go_web_mapreduce_spark.operators.relational import token_counts
from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.sinks import pin, scratch_dir, scratch_table
from go_web_mapreduce_spark.sources.tables import fan_out, load_table

# ---------------------------------------------------------------------------
# portable expression generators
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _cast_str(expr: str, dialect: str) -> str:
    return f"CAST({expr} AS {'VARCHAR' if dialect == 'duck' else 'STRING'})"


def _hex4_int(h: str) -> str:
    """SQL computing an integer in [0, 65536) from the first 4 hex chars of
    ``h`` (an md5 hex-string expression). Pure instr/substr arithmetic —
    identical text works in Spark SQL and DuckDB."""
    terms = [
        f"(instr('{_HEX}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(terms) + ")"


def _hash_bucket(key_expr: str, mod: int, dialect: str) -> str:
    """Deterministic bucket in [0, mod): md5 of the key's decimal string,
    top 16 bits, modulo. Content-addressed (stable across engines, runs,
    partitionings) — the property a reproducible train/test split needs."""
    return f"({_hex4_int(f'md5({_cast_str(key_expr, dialect)})')} % {mod})"


def _idiv(a: str, b: str, dialect: str) -> str:
    """Integer (floor-toward-zero on non-negatives) division."""
    return f"(({a}) // ({b}))" if dialect == "duck" else f"(({a}) div ({b}))"


def _bit(v: str, i: int) -> str:
    """Bit ``i`` of non-negative integer expression ``v`` without bitwise
    operators (identical text in both engines)."""
    return f"(CASE WHEN ({v}) % {2 ** (i + 1)} >= {2 ** i} THEN 1 ELSE 0 END)"


def _morton16(x: str, y: str) -> str:
    """16-bit Morton (Z-order) interleave of two 8-bit values: x in even bit
    positions, y in odd. Standard space-filling-curve clustering key."""
    terms = [f"{_bit(x, i)} * {4 ** i} + {_bit(y, i)} * {2 * 4 ** i}" for i in range(8)]
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# q_train_test_split
# ---------------------------------------------------------------------------

_SPLIT_CASE = "CASE WHEN {b} < 8 THEN 'train' WHEN {b} = 8 THEN 'valid' ELSE 'test' END"


def _split_expr(dialect: str) -> str:
    return _SPLIT_CASE.format(b=_hash_bucket("doc_id", 10, dialect))


@query(
    "q_train_test_split",
    oracle=f"""
    SELECT source, {_split_expr('duck')} AS split,
           CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
    """,
    description="deterministic 80/10/10 train/valid/test assignment by "
    "content-addressed md5 bucket of doc_id (extension mandate: pipeline ops)",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split: every engine, run, and partitioning assigns each doc_id to
    the same split — no RNG state, no global shuffle, a pure map-side
    projection + small (source×3) aggregation. At 100 TB this is one scan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", F.expr(_split_expr("spark")).alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# q_stratified_sample
# ---------------------------------------------------------------------------

# per-language keep rates in percent — the data-mixture knob of a corpus
# rebalancing pass (upsample scarce, downsample dominant)
STRATA_PCT = {"en": 50, "de": 30, "es": 20, "fr": 10, "zh": 5}


def _rate_case(dialect: str) -> str:
    whens = " ".join(f"WHEN lang = '{lg}' THEN {p}" for lg, p in STRATA_PCT.items())
    return f"(CASE {whens} ELSE 0 END)"


@query(
    "q_stratified_sample",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN {_hash_bucket('doc_id', 100, 'duck')}
                         < {_rate_case('duck')} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled
    FROM documents GROUP BY lang
    """,
    description="per-language stratified sampling at fixed rates via "
    "deterministic hash buckets (extension mandate: pipeline ops)",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-per-stratum sampling with zero coordination: keep iff
    md5-bucket(doc_id) < rate[lang]. Map-side decision, exact expected rates,
    reproducible across engines — one scan + a 5-row aggregate at any SF."""
    docs = load_table(spark, sf_dir, "documents")
    keep = F.expr(
        f"CASE WHEN {_hash_bucket('doc_id', 100, 'spark')}"
        f" < {_rate_case('spark')} THEN 1 ELSE 0 END"
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(keep).alias("n_sampled"),
    )


# ---------------------------------------------------------------------------
# q_reservoir_per_key
# ---------------------------------------------------------------------------

RESERVOIR_K = 3
# map-side survivor threshold: only rows whose 16-bit hash falls below this
# reach the per-key sort. 8192/65536 = 12.5% — generous at test SF (≈12
# survivors per lang for k=3); at 100 TB set it to ~(10k / rows-per-key) so
# the window sees thousands of rows per key, never billions.
RESERVOIR_GATE = 8192


def _resv_hash(dialect: str) -> str:
    return _hex4_int(f"md5({_cast_str('doc_id', dialect)})")


@query(
    "q_reservoir_per_key",
    oracle=f"""
    WITH gated AS (
      SELECT lang, doc_id, {_resv_hash('duck')} AS h
      FROM documents
      WHERE {_resv_hash('duck')} < {RESERVOIR_GATE}
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      FROM gated
    ) WHERE rk <= {RESERVOIR_K}
    """,
    description=f"deterministic {RESERVOIR_K}-per-language document sample: "
    "hash-gate map-side, then rank the tiny survivor set "
    "(extension mandate: pipeline ops)",
)
def q_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-per-key sampling that survives skew: the hash gate drops ~87.5% of
    rows before any shuffle (at scale: a tunable 99.99%+), so the per-key
    row_number sort runs on a bounded survivor set. Equivalent sample law to
    'uniform k without replacement' because md5 order is independent of
    content order."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(_resv_hash("spark"))
    gated = docs.select("lang", "doc_id", h.alias("h")).filter(
        F.col("h") < RESERVOIR_GATE
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        gated.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("lang", "doc_id", F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------------------------------------------
# q_pii_redact
# ---------------------------------------------------------------------------

# regex subset valid in both Java regex (Spark) and RE2 (DuckDB): character
# classes, +, bounded repeats — no lookaround, no \d shorthand (escaping
# differs between SQL string literals)
EMAIL_PAT = "[a-zA-Z0-9]+@[a-zA-Z0-9.]+"
NUM_PAT = "[0-9]{3,}"

# synthesized contact-card text per customer row: name + derived email +
# account digits. The redaction machinery (match, replace, count, audit) is
# the operator under test; the synthesis makes match counts non-trivial on
# TPC-H-shaped data and stays engine-exact (concat/floor/cast only).
_CONTACT = (
    "concat(c_name, ' <c', {key}, '@example.com> acct ', {bal})"
)


def _contact_expr(dialect: str) -> str:
    return _CONTACT.format(
        key=_cast_str("c_custkey", dialect),
        bal=_cast_str("CAST(floor(c_acctbal) AS BIGINT)", dialect),
    )


@query(
    "q_pii_redact",
    oracle=f"""
    WITH cards AS (
      SELECT c_nationkey, {_contact_expr('duck')} AS card FROM customer
    ), red AS (
      SELECT c_nationkey, card,
             regexp_replace(regexp_replace(card, '{EMAIL_PAT}', '<EMAIL>', 'g'),
                            '{NUM_PAT}', '<NUM>', 'g') AS clean,
             len(regexp_extract_all(card, '{EMAIL_PAT}')) AS ne,
             len(regexp_extract_all(card, '{NUM_PAT}')) AS nn
      FROM cards
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(ne) AS BIGINT) AS n_emails,
           CAST(sum(nn) AS BIGINT) AS n_num_runs,
           CAST(sum(length(card) - length(clean)) AS BIGINT) AS chars_removed
    FROM red JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    description="PII-style redaction audit: regex-mask emails and long digit "
    "runs in synthesized contact text, per-nation counts "
    "(extension mandate: pipeline ops)",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masking is a pure Column projection (JVM regex, codegen) and the audit
    aggregates integer counts on a tiny (nation) key with the dimension
    broadcast — at 100 TB: one scan of the fact, no fact shuffle beyond the
    25-key count-sum."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    card = F.expr(_contact_expr("spark"))
    red = cust.select(
        "c_nationkey",
        card.alias("card"),
        F.regexp_replace(
            F.regexp_replace(card, EMAIL_PAT, "<EMAIL>"), NUM_PAT, "<NUM>"
        ).alias("clean"),
    ).select(
        "c_nationkey",
        F.expr(f"size(regexp_extract_all(card, '{EMAIL_PAT}', 0))").alias("ne"),
        F.expr(f"size(regexp_extract_all(card, '{NUM_PAT}', 0))").alias("nn"),
        (F.length("card") - F.length("clean")).alias("removed"),
    )
    return (
        red.join(F.broadcast(nation), red.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("ne").alias("n_emails"),
            F.sum("nn").alias("n_num_runs"),
            F.sum("removed").alias("chars_removed"),
        )
    )


# ---------------------------------------------------------------------------
# q_repetition_filter
# ---------------------------------------------------------------------------

# Gopher-style repetition gates, expressed in scaled integers so the
# cross-engine comparison is exact: duplicate-token fraction ≤ 60% and
# top-token fraction ≤ 10% (thresholds as integer cross-multiplications)
DUP_MAX_NUM, DUP_MAX_DEN = 6, 10  # (n - n_distinct) / n <= 6/10
TOP_MAX_NUM, TOP_MAX_DEN = 1, 10  # max token count / n <= 1/10

_TK = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


@query(
    "q_repetition_filter",
    oracle=f"""
    WITH t AS (
      SELECT source, {_TK} AS tk FROM documents
    ), m AS (
      SELECT source,
             len(tk) AS n,
             len(list_distinct(tk)) AS nd,
             list_max(list_transform(list_distinct(tk),
                                     x -> len(list_filter(tk, u -> u = x)))) AS tc
      FROM t WHERE len(tk) > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN (n - nd) * {DUP_MAX_DEN} <= {DUP_MAX_NUM} * n
                          AND tc * {TOP_MAX_DEN} <= {TOP_MAX_NUM} * n
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum((n - nd) * 1000000 // n) AS BIGINT) AS sum_dup_ppm
    FROM m GROUP BY source
    """,
    description="repetition-based quality gate: duplicate-token and "
    "top-token fraction thresholds as exact integer tests "
    "(extension mandate: text analysis / pipeline ops)",
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-document ratios are integer cross-multiplications and the
    duplicate fraction is reported in exact ppm (integer division), so sums
    are order-independent — no float drift. Corpus cost is one map pass +
    (source)-key agg.

    The top-token count is the max run length of the SORTED token array —
    one O(n log n) sort + one O(n) fold per document. The previous
    formulation (count each distinct token with a nested filter) was
    O(n·vocab) per document; at sf1 the round-5 scaling run measured it
    12.7× for 10× docs (the per-doc constant crept with the heavier
    corpus), and this rewrite cut the sf1 time ~4× with identical output
    (same oracle, hash-verified)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens("text")

    def _run(acc, x):
        newrun = F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"),
            newrun.alias("run"),
            F.greatest(acc["best"], newrun).alias("best"),
        )

    max_count = F.aggregate(
        F.sort_array(tk),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _run,
        lambda acc: acc["best"],
    )
    m = docs.select(
        "source",
        F.size(tk).alias("n"),
        F.size(F.array_distinct(tk)).alias("nd"),
        max_count.alias("tc"),
    ).filter(F.col("n") > 0)
    kept = (
        ((F.col("n") - F.col("nd")) * DUP_MAX_DEN <= DUP_MAX_NUM * F.col("n"))
        & (F.col("tc") * TOP_MAX_DEN <= TOP_MAX_NUM * F.col("n"))
    ).cast("int")
    dup_ppm = F.expr(_idiv("(n - nd) * 1000000", "n", "spark"))
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        F.sum(dup_ppm).alias("sum_dup_ppm"),
    )


# ---------------------------------------------------------------------------
# q_chunk_documents
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@query(
    "q_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TK} AS tk FROM documents
    ), st AS (
      SELECT doc_id, tk,
             unnest(range(1, greatest(len(tk), 1) + 1, {CHUNK_STRIDE})) AS s
      FROM t
    )
    SELECT doc_id,
           CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(list_slice(tk, s, s + {CHUNK_TOKENS - 1})) AS BIGINT)
             AS n_tokens,
           md5(array_to_string(list_slice(tk, s, s + {CHUNK_TOKENS - 1}), ' '))
             AS chunk_md5
    FROM st WHERE len(list_slice(tk, s, s + {CHUNK_TOKENS - 1})) > 0
    """,
    description=f"overlapping {CHUNK_TOKENS}-token training windows (stride "
    f"{CHUNK_STRIDE}) per document, content-fingerprinted "
    "(extension mandate: pipeline ops)",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking as a map-side explode: each document emits
    ceil(n_tokens/stride) chunks with no shuffle at all — output volume is
    input volume × (chunk/stride) and streams straight to the sink. The md5
    fingerprint doubles as the join key for chunk-level dedup downstream."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens("text")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(tk), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    exploded = docs.select(
        "doc_id", tk.alias("tk"), F.explode(starts).alias("s")
    )
    chunk = F.slice(F.col("tk"), F.col("s"), CHUNK_TOKENS)
    return (
        exploded.select(
            "doc_id",
            ((F.col("s") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
        .filter(F.col("n_tokens") > 0)
    )


# ---------------------------------------------------------------------------
# q_scd2
# ---------------------------------------------------------------------------


@query(
    "q_scd2",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             lag(event_type) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), chg AS (
      SELECT user_id, event_type, us, event_id FROM seq
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           us AS valid_from_us,
           lead(us) OVER w2 AS valid_to_us,
           CAST(CASE WHEN lead(us) OVER w2 IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
    description="SCD type-2 history build: collapse the per-user event-type "
    "stream to change intervals [valid_from, valid_to) with a current flag "
    "(CDC/merge family)",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture compaction: one shuffle on user_id serves both
    window passes (change detection, then interval close) — Catalyst reuses
    the partitioning, so the 100 TB cost is a single exchange keyed on the
    natural entity id, and output size is #changes, not #events."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = events.select(
        "user_id", "event_type", us.alias("us"), "event_id"
    ).withColumn("prev", F.lag("event_type").over(w))
    chg = seq.filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    nxt = F.lead("us").over(w2)
    return chg.select(
        "user_id",
        "event_type",
        F.col("us").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# q_zorder_cluster
# ---------------------------------------------------------------------------

# 8-bit quantizations of the two clustering dimensions
_ZX = "(o_custkey % 256)"
_ZY = "(CASE WHEN CAST(floor(o_totalprice / 2500) AS INT) > 255 THEN 255 " \
      "ELSE CAST(floor(o_totalprice / 2500) AS INT) END)"


def _z_expr() -> str:
    return _morton16(_ZX, _ZY)


@query(
    "q_zorder_cluster",
    oracle=f"""
    WITH z AS (
      SELECT {_z_expr()} AS zval, o_totalprice FROM orders
    )
    SELECT CAST(zval // 1024 AS BIGINT) AS zcell,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(zval) AS BIGINT) AS z_min,
           CAST(max(zval) AS BIGINT) AS z_max,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
             AS total_price
    FROM z GROUP BY 1
    """,
    description="Z-order (Morton) clustering key over (custkey, price "
    "bucket): cell occupancy + value stats — the data-layout pass behind "
    "multi-dimensional data skipping",
)
def q_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Morton interleave is pure integer arithmetic in whole-stage
    codegen (no UDF, no bitwise-dialect hazards); writing the table sorted by
    zval is what gives parquet min/max pruning on BOTH dimensions at once.
    Here the query reports per-cell occupancy — the skew diagnostic you run
    before committing to a layout. One scan + 64-key agg at any SF."""
    orders = load_table(spark, sf_dir, "orders")
    z = orders.select(F.expr(_z_expr()).alias("zval"), "o_totalprice")
    return (
        z.groupBy(F.expr(_idiv("zval", "1024", "spark")).cast("long").alias("zcell"))
        .agg(
            F.count("*").alias("n"),
            F.min("zval").cast("long").alias("z_min"),
            F.max("zval").cast("long").alias("z_max"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# q_sequence_pack — concat-and-split sequence packing for LLM training
# ---------------------------------------------------------------------------

SEQ_PACK_CAP = 512  # tokens per training window


@query(
    "q_sequence_pack",
    oracle=f"""
    WITH d AS (
        SELECT source, doc_id,
               len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                 AS ntok
        FROM documents
    ),
    c AS (
        SELECT source, doc_id, ntok,
               COALESCE(sum(ntok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
        FROM d
    )
    SELECT source,
           CAST(floor(cum_before / {SEQ_PACK_CAP}.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
    """,
    description=f"sequence packing (concat-and-split): docs concatenated in "
    f"doc_id order per source shard, split into {SEQ_PACK_CAP}-token "
    "training windows; each doc lands in the window holding its first "
    "token — per-bin doc count, token mass, and id range, hash-verified "
    "(extension mandate: pipeline ops)",
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing pass of an LLM training pipeline: short documents are
    concatenated into fixed-capacity token windows so no batch slot is
    wasted on padding. This is the concat-and-split formulation (the one
    production tokenizer pipelines use): a running token offset per shard,
    window index = offset // capacity.

    Scale: the running sum is a window partitioned BY SOURCE SHARD — each
    shard's prefix sum is independent, so the plan parallelizes across
    shards and never forms a global single-partition window. At 100 TB you
    keep shards bounded (source × day); the per-shard sort is the only
    cost, and it co-partitions with the downstream per-shard write. No
    UDFs, all whole-stage codegen.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("source", "doc_id", F.size(tokens("text")).alias("ntok"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("cum_before", F.coalesce(F.sum("ntok").over(w), F.lit(0)))
    return (
        c.groupBy(
            "source",
            F.floor(F.col("cum_before") / F.lit(float(SEQ_PACK_CAP)))
            .cast("bigint")
            .alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# q_corpus_pipeline — end-to-end training-data funnel with stage retention
# ---------------------------------------------------------------------------

from go_web_mapreduce_spark.operators.dedup import DECON_K as CP_DECON_K
from go_web_mapreduce_spark.operators.dedup import DECON_MOD as CP_EVAL_MOD

CP_MIN_TOKENS = 10  # quality gate: at least this many tokens
CP_MIN_TTR_PCT = 40  # ...and type-token ratio >= 40% (integer cross-multiply)
CP_BIN_CAP = 512  # packing capacity (shared with q_sequence_pack)


@query(
    "q_corpus_pipeline",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk,
               text
        FROM documents
    ),
    ev AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
                   range(1, greatest(len(tk) - {CP_DECON_K - 1}, 1) + 1),
                   i -> array_to_string(tk[i:i + {CP_DECON_K - 1}], ' ')))) AS s
        FROM t WHERE doc_id % {CP_EVAL_MOD} = 0
    ),
    hit AS (
        SELECT DISTINCT sh.doc_id
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         range(1, greatest(len(tk) - {CP_DECON_K - 1}, 1) + 1),
                         i -> array_to_string(tk[i:i + {CP_DECON_K - 1}], ' ')))) AS s
              FROM t WHERE doc_id % {CP_EVAL_MOD} <> 0) sh
        JOIN ev USING (s)
    ),
    train AS (
        SELECT doc_id, source, text, len(tk) AS ntok,
               CASE WHEN len(tk) >= {CP_MIN_TOKENS}
                     AND 100 * len(list_distinct(tk)) >= {CP_MIN_TTR_PCT} * len(tk)
                    THEN 1 ELSE 0 END AS q
        FROM t WHERE doc_id % {CP_EVAL_MOD} <> 0
    ),
    staged AS (
        SELECT source, ntok, q,
               CASE WHEN q = 1 AND doc_id = min(CASE WHEN q = 1 THEN doc_id END)
                        OVER (PARTITION BY text)
                    THEN 1 ELSE 0 END AS k,
               CASE WHEN doc_id IN (SELECT doc_id FROM hit) THEN 1 ELSE 0 END AS c
        FROM train
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(q) AS BIGINT) AS n_quality,
           CAST(sum(k) AS BIGINT) AS n_unique,
           CAST(sum(k * (1 - c)) AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN k = 1 AND c = 0 THEN ntok ELSE 0 END) AS BIGINT)
             AS clean_tokens,
           CAST(ceil(sum(CASE WHEN k = 1 AND c = 0 THEN ntok ELSE 0 END)
                     / {CP_BIN_CAP}.0) AS BIGINT) AS n_bins,
           CAST(sum(k * (1 - c)) AS DOUBLE) / count(*) AS retention
    FROM staged GROUP BY source
    """,
    description="end-to-end training-data funnel: train slice → quality "
    "gate (length + type-token ratio, integer cross-multiply) → exact-"
    "dedup canonical keeper (min doc_id per text) → eval-decontaminated → "
    "packed 512-token bin count, with per-source per-stage retention — "
    "the composition the standalone ops (q_corpus_filter, q_dedup_exact, "
    "q_decontaminate, q_sequence_pack) run in production sequence, "
    "hash-verified as one plan",
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One plan, four pipeline stages, per-stage conservation visible in
    the output (n_train ≥ n_quality ≥ n_unique ≥ n_clean). Scale posture
    is inherited from the standalone ops it composes: the quality gate is
    a map-side projection, the keeper needs one shuffle on text (the
    exact-dedup hash-groupBy shape), contamination is a broadcast
    semi-join (eval side is benchmarks — MBs), and the final aggregate is
    per-source states. Catalyst shares the documents scan across stages.
    """
    from pyspark.sql import Window

    from go_web_mapreduce_spark.operators.dedup import decon_train_and_hits

    train, hits = decon_train_and_hits(spark, sf_dir)
    hit = hits.withColumn("c", F.lit(1))
    tk = tokens("text")
    q = (
        (F.size(tk) >= CP_MIN_TOKENS)
        & (
            F.lit(100) * F.size(F.array_distinct(tk))
            >= F.lit(CP_MIN_TTR_PCT) * F.size(tk)
        )
    ).cast("int")
    staged = train.select(
        "doc_id", "source", "text", F.size(tk).alias("ntok"), q.alias("q")
    )
    w = Window.partitionBy("text")
    staged = staged.withColumn(
        "k",
        (
            (F.col("q") == 1)
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("q") == 1, F.col("doc_id"))).over(w)
            )
        ).cast("int"),
    ).join(hit, "doc_id", "left").fillna({"c": 0})
    clean_tok = F.when(
        (F.col("k") == 1) & (F.col("c") == 0), F.col("ntok")
    ).otherwise(F.lit(0))
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum("q").alias("n_quality"),
        F.sum("k").alias("n_unique"),
        F.sum(F.col("k") * (1 - F.col("c"))).alias("n_clean"),
        F.sum(clean_tok).alias("clean_tokens"),
        F.ceil(F.sum(clean_tok) / F.lit(float(CP_BIN_CAP)))
        .cast("bigint")
        .alias("n_bins"),
        (
            F.sum(F.col("k") * (1 - F.col("c"))).cast("double")
            / F.count(F.lit(1))
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# q_csv_roundtrip — file-format interchange: parquet → CSV → DataFrame
# ---------------------------------------------------------------------------


@query(
    "q_csv_roundtrip",
    # the round trip must be lossless, so the oracle aggregates the source
    # table directly — any quoting/escaping/typing bug in the CSV path
    # shows up as a count or checksum mismatch
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_len
    FROM documents GROUP BY lang
    """,
    description="file-format interchange (SURVEY §2.2 connectors): the "
    "documents table written as quoted CSV (header, escaped quotes) and "
    "read back through DataFrameReader with an explicit schema; per-lang "
    "counts, distinct-text counts, and length checksums hash-verify "
    "against the parquet source — proving the round trip loses nothing "
    "(the reference's only ingest was the HTTP POST body; Parquet/CSV/"
    "JSON arrive free with Spark)",
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Escaping is where CSV round trips die (embedded quotes, commas,
    leading zeros re-typed); quoteAll + an explicit read schema pins the
    dialect (multiLine on the read side so embedded newlines inside
    quoted fields survive). The write is partitioned like any Spark sink — at 100 TB
    this is the standard parquet↔CSV interchange job, one scan each way,
    no driver involvement.

    RESERVED SENTINEL: the dialect encodes SQL NULL as the two-character
    field ``\\N`` (the classic MySQL/Hive convention). A text field whose
    CONTENT is literally backslash-N would read back as NULL — an inherent
    sentinel collision of every CSV null dialect (quoting does not
    disambiguate: the reader compares the parsed field text against
    nullValue). Callers moving a
    corpus where ``\\N`` is plausible content must pick a sentinel provably
    absent from the data (e.g. a ``\\x00``-prefixed token) on BOTH sides —
    or use parquet, which needs no sentinel."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # nonce-keyed scratch path (see sinks.scratch_dir): no races between
    # concurrent invocations or processes, removed at interpreter exit
    path = scratch_dir("csv")
    # pin the null/empty dialect explicitly on BOTH sides: nulls travel as
    # \N, empty strings as quoted "" — Spark's default read maps empty
    # fields to null, which would silently change n_unique/sum_len for a
    # corpus containing empty or null texts
    (
        docs.write.mode("overwrite")
        .options(header=True, quoteAll=True, escape='"', nullValue="\\N")
        .csv(path)
    )
    back = spark.read.options(
        header=True, escape='"', multiLine=True, nullValue="\\N", emptyValue=""
    ).schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).csv(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_len"),
    )


# ---------------------------------------------------------------------------
# q_jsonl_roundtrip — file-format interchange: parquet → JSON Lines → DataFrame
# ---------------------------------------------------------------------------


@query(
    "q_jsonl_roundtrip",
    # lossless round trip ⇒ the oracle aggregates the parquet source
    # directly; any escaping/encoding/typing bug in the JSONL path shows
    # up as a count or checksum mismatch
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_len
    FROM documents GROUP BY source
    """,
    description="file-format interchange (SURVEY §2.2 connectors): the "
    "documents table written as JSON Lines and read back with an explicit "
    "schema; per-source counts, distinct-text counts, and length checksums "
    "hash-verify against the parquet source — the interchange format LLM "
    "corpora actually ship in (one JSON object per line)",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL is the de-facto wire format for training corpora, and unlike
    CSV it needs NO null sentinel (JSON ``null`` is unambiguous) and no
    quoting dialect (newlines/quotes/unicode are escaped by the format) —
    the contrast to q_csv_roundtrip's reserved-``\\N`` caveat. The explicit
    read schema pins types (schema inference on JSON re-types zero-padded
    strings and widens ints — and is a full extra scan at 100 TB). Spark
    line-splits JSONL in parallel like any text source, so both directions
    are one distributed scan, no driver involvement; fields absent from a
    line arrive as NULL and round-trip exactly."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # nonce-keyed scratch path (see sinks.scratch_dir): race-free, scope-freed
    path = scratch_dir("jsonl")
    docs.write.mode("overwrite").json(path)
    back = (
        spark.read.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        ).json(path)
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_len"),
    )


# ---------------------------------------------------------------------------
# q_weighted_sample — Efraimidis–Spirakis A-ES weighted sampling
# ---------------------------------------------------------------------------

WEIGHTED_K = 100
# 2^52 + 1: md5's first 13 hex chars give an exact-in-double 52-bit integer;
# (h+1)/(2^52+1) is a deterministic uniform in (0, 1)
_U_DENOM = "4503599627370497.0"


def _hex13_int(h: str) -> str:
    """SQL for the integer value of the first 13 hex chars of ``h`` — the
    same instr/substr arithmetic as :func:`_hex4_int`, widened to 52 bits
    (still exact in BIGINT and in DOUBLE). Identical text in both engines."""
    terms = [
        f"CAST(instr('{_HEX}', substr({h}, {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (12 - i)}"
        for i in range(13)
    ]
    return "(" + " + ".join(terms) + ")"


def _aes_key(weight_expr: str, dialect: str, salt: str = "") -> str:
    """The A-ES priority ln(u)/w as ONE dialect-identical SQL string.

    Efraimidis & Spirakis 2006: drawing the k largest u_i^(1/w_i) over
    independent uniforms u_i is an exact weighted sample without
    replacement; ln(u)/w is the same ordering (ln is monotone) without
    pow's double-rounding. The ONLY transcendental is ln, and its value
    is used purely for ORDERING — it never reaches the output — so the
    ≤1-ulp libm difference between engines can only matter if two
    distinct documents' keys collide to within ~1e-16 relative at the
    exact k-th boundary: probability ~0, unlike ln-in-output at a fixed
    rounding boundary (the portable-HLL lesson, functions/hll.py)."""
    seed = f"concat({_cast_str('doc_id', dialect)}, '{salt}')"
    u = f"(CAST({_hex13_int(f'md5({seed})')} + 1 AS DOUBLE) / {_U_DENOM})"
    return f"(ln({u}) / CAST({weight_expr} AS DOUBLE))"


def weighted_sample(
    docs: DataFrame, weight_expr: str, k: int = WEIGHTED_K, salt: str = ""
) -> DataFrame:
    """Top-k rows by the A-ES priority — weight-proportional sampling
    without replacement in ONE map-side projection + TakeOrdered: no
    shuffle of the corpus, no RNG state, reproducible across engines,
    runs, and partitionings. At 100 TB this is a single scan; the only
    coordination is the k-row per-partition top-k merge."""
    keyed = docs.filter(F.expr(weight_expr) > 0).withColumn(
        "_k", F.expr(_aes_key(weight_expr, "spark", salt))
    )
    return (
        keyed.orderBy(F.col("_k").desc(), "doc_id")
        .limit(k)
        .drop("_k")
    )


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
             {_aes_key('n_chars', 'duck')} AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, weight
    FROM keyed ORDER BY k DESC, doc_id LIMIT {WEIGHTED_K}
    """,
    description=f"weighted sampling without replacement (Efraimidis-"
    f"Spirakis A-ES): top-{WEIGHTED_K} documents by ln(u)/weight priority "
    "with weight = n_chars and u a content-addressed md5 uniform — the "
    "importance-sampling primitive of training-data mixing (sample long/"
    "high-quality docs proportionally more); map-side keys + TakeOrdered, "
    "no corpus shuffle",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sel = weighted_sample(
        docs.select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("weight")),
        "weight",
    )
    return sel.select("doc_id", "lang", "weight")


# ---------------------------------------------------------------------------
# DSIR importance weights: hashed-ngram KL-ratio scoring against a target
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096  # hashed-ngram feature dimension (2^12)
DSIR_SALT = 11  # md5_bucket salt for the gram -> bucket hash
DSIR_TARGET_LANG = "en"  # the "target distribution" slice of the corpus


def _dsir_grams(toks):
    """Unigrams + space-joined bigrams of a token array (array<string>).

    Mirrored verbatim by the oracle's ``list_concat(tl, list_transform(
    range(1, len(tl)), ...))``; docs under 2 tokens contribute unigrams
    only, empty docs contribute nothing (and are restored by the final
    left join with weight 0).
    """
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS tl
      FROM documents
    ),
    gb AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('{DSIR_SALT}:' || g), 1, 8))::BIGINT
               % {DSIR_BUCKETS} AS b
      FROM (SELECT doc_id, lang,
                   unnest(list_concat(tl, list_transform(range(1, len(tl)),
                       i -> tl[i] || ' ' || tl[i+1]))) AS g
            FROM tk) g_t
    ),
    bs AS (
      SELECT b, SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS t,
             COUNT(*) AS r
      FROM gb GROUP BY b
    ),
    tot AS (SELECT SUM(t) AS tt, SUM(r) AS tr FROM bs),
    lam AS (
      SELECT b,
             ln((t + 1)::DOUBLE / ((SELECT tt FROM tot) + {DSIR_BUCKETS}))
           - ln((r + 1)::DOUBLE / ((SELECT tr FROM tot) + {DSIR_BUCKETS})) AS lam
      FROM bs
    ),
    dc AS (SELECT doc_id, b, COUNT(*) AS c FROM gb GROUP BY doc_id, b),
    sc AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams, SUM(c * lam) AS logw
      FROM dc JOIN lam USING (b) GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang, d.source,
           COALESCE(sc.n_grams, 0) AS n_grams,
           COALESCE(sc.logw, 0.0) AS logw
    FROM documents d LEFT JOIN sc USING (doc_id)
    """,
    description="DSIR data selection (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): per-document "
    "importance log-weight log p_target/p_raw under hashed-ngram "
    f"({DSIR_BUCKETS}-bucket unigram+bigram, Laplace-smoothed) bag models, "
    f"target = the lang='{DSIR_TARGET_LANG}' slice, raw = the whole corpus "
    "— the published scale path for steering a 100 TB crawl toward a "
    "target domain; compose with q_weighted_sample's A-ES machinery for "
    "the resampling step. Plan: one gram scan feeds a 4096-key aggregation "
    "(bucket stats, map-side partials) and a (doc_id, bucket) count; the "
    "4096-row log-ratio table joins back as a BROADCAST, so nothing but "
    "integer (doc_id, bucket, count) triples ever shuffles — no document "
    "bodies past the first projection",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.hashing import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array in its own projection BEFORE the bigram
    # transform: a non-lambda subexpression inside an HOF lambda body is
    # re-evaluated per iteration (the Catalyst pitfall in README/BASELINE),
    # so inlining tokens("text") re-tokenized each doc once per bigram —
    # O(len^2) per document (measured 7.6 s -> 0.6 s for the gram explode
    # at sf0.1)
    # fan_out the pruned projection first: tokenize + per-gram md5 bucketing
    # are map-side CPU on the scan (a one-row-group benchmark file is one
    # effective task; no-op at cluster scale)
    grams = fan_out(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", tokens("text").alias("tk")
    ).select(
        "doc_id",
        "lang",
        F.explode(_dsir_grams(F.col("tk"))).alias("g"),
    ).select(
        "doc_id",
        "lang",
        md5_bucket(F.col("g"), DSIR_BUCKETS, salt=DSIR_SALT).alias("b"),
    )
    # ONE corpus gram pass: the (doc, lang, bucket) count table is the
    # common ancestor of both the 4096-bucket stats and the per-doc scores
    # (lang is functional on doc_id, so grouping by it adds no rows).
    # Catalyst does not dedupe repeated subplans — without the pin the
    # tokenize+explode+md5 of every gram ran once per consumer (measured
    # 3x, 7.5 s -> 2.9 s at sf0.1). The pinned table is (doc, bucket)-
    # sized, far below the exploded gram stream.
    dcl = pin(
        grams.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bs = dcl.groupBy("b").agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(F.lit(0))
        ).alias("t"),
        F.sum("c").alias("r"),
    )
    tot = bs.agg(F.sum("t").alias("tt"), F.sum("r").alias("tr"))
    lam = bs.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("t") + 1).cast("double") / (F.col("tt") + DSIR_BUCKETS))
            - F.log((F.col("r") + 1).cast("double") / (F.col("tr") + DSIR_BUCKETS))
        ).alias("lam"),
    )
    dc = dcl.select("doc_id", "b", "c")
    sc = (
        dc.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("lam")).alias("logw"),
        )
    )
    return (
        docs.select("doc_id", "lang", "source")
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — privacy risk measurement before releasing a table
# ---------------------------------------------------------------------------

KANON_K = 5  # classes smaller than this are re-identification risks
KANON_BAND = 1000  # account-balance band width (third quasi-identifier)


@query(
    "q_kanonymity",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey,
             c_mktsegment,
             CAST(floor(c_acctbal / {KANON_BAND}) AS BIGINT) AS bal_band,
             COUNT(*) AS k
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS risky_classes,
           CAST(SUM(CASE WHEN k < {KANON_K} THEN k ELSE 0 END) AS BIGINT)
             AS risky_rows,
           SUM(CASE WHEN k < {KANON_K} THEN k ELSE 0 END)::DOUBLE
             / SUM(k) AS suppression_rate
    FROM classes GROUP BY c_nationkey
    """,
    description="k-anonymity audit (Sweeney 2002) over the quasi-identifier "
    "tuple (nation, market segment, account-balance band): per-nation "
    "equivalence-class census — class count, smallest class, classes/rows "
    f"below k={KANON_K}, and the suppression rate a k-anonymous release "
    "would pay — the privacy-risk measurement that gates publishing a "
    "table, next to q_pii_redact's column-level scrubbing. Two partial "
    "aggregations (QI classes, then nation rollup), all-integer outputs "
    "plus one exact division; nothing but (QI, count) pairs ever shuffles",
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / KANON_BAND).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    risky = F.when(F.col("k") < KANON_K, F.col("k")).otherwise(F.lit(0))
    return classes.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("k").alias("min_k"),
        F.sum(F.when(F.col("k") < KANON_K, 1).otherwise(0)).alias("risky_classes"),
        F.sum(risky).alias("risky_rows"),
        (F.sum(risky).cast("double") / F.sum("k")).alias("suppression_rate"),
    )


# ---------------------------------------------------------------------------
# q_ks_drift — exact two-sample Kolmogorov–Smirnov drift test per source
# ---------------------------------------------------------------------------

KS_ALPHA = 0.05  # flag threshold on the asymptotic p approximation


@query(
    "q_ks_drift",
    oracle=f"""
    WITH sv AS (
      SELECT source, n_chars AS v, count(*) AS c
      FROM documents GROUP BY 1, 2
    ),
    gv AS (SELECT v, sum(c) AS g FROM sv GROUP BY 1),
    src AS (SELECT source, sum(c) AS ns FROM sv GROUP BY 1),
    tot AS (SELECT sum(c) AS n FROM sv),
    grid AS (
      SELECT s.source, s.ns, g.v, g.g, t.n, coalesce(x.c, 0) AS c
      FROM src s CROSS JOIN gv g CROSS JOIN tot t
      LEFT JOIN sv x ON x.source = s.source AND x.v = g.v
    ),
    cum AS (
      SELECT source, ns, n,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS cs,
             sum(g) OVER (PARTITION BY source ORDER BY v) AS cg
      FROM grid
    ),
    d AS (
      SELECT source, CAST(ns AS BIGINT) AS n_source,
             max(abs(CAST(cs AS DOUBLE) / ns
                     - CAST(cg - cs AS DOUBLE) / (n - ns))) AS d_stat,
             CAST(ns AS DOUBLE) * (n - ns) / CAST(n AS DOUBLE) AS neff
      FROM cum GROUP BY source, ns, n
    )
    SELECT source, n_source, d_stat,
           d_stat * sqrt(neff) AS ks_lambda,
           2.0 * exp(-2.0 * (d_stat * sqrt(neff)) * (d_stat * sqrt(neff)))
             AS p_approx,
           2.0 * exp(-2.0 * (d_stat * sqrt(neff)) * (d_stat * sqrt(neff)))
             < {KS_ALPHA} AS drifted
    FROM d
    """,
    description="exact two-sample Kolmogorov–Smirnov test of each source's "
    "document-length distribution against the rest of the corpus: D = max "
    "|CDF_source - CDF_rest| over the pooled value grid, with the "
    "asymptotic significance (lambda, 2e^(-2 lambda^2)) and a drift flag "
    f"at alpha={KS_ALPHA} — the distribution-shift alarm run before "
    "mixing a new crawl into training data. Plan: ONE corpus aggregation "
    "to (source, value) counts; the CDF grid is |values| x |sources| "
    "(bounded by the stat's discretization, never corpus-sized), built by "
    "broadcast cross join, cumulated by a per-source window, and reduced "
    "to one row per source — every post-scan stage is dimension-sized",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sv = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    gv = sv.groupBy("v").agg(F.sum("c").alias("g"))
    src = sv.groupBy("source").agg(F.sum("c").alias("ns"))
    n_total = docs.count()
    grid = (
        src.crossJoin(F.broadcast(gv))
        .join(sv, ["source", "v"], "left")
        .select(
            "source", "ns", "v", "g",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("v")
    cum = grid.select(
        "source", "ns",
        F.sum("c").over(w).alias("cs"),
        F.sum("g").over(w).alias("cg"),
    )
    d = cum.groupBy("source", "ns").agg(
        F.max(
            F.abs(
                F.col("cs").cast("double") / F.col("ns")
                - (F.col("cg") - F.col("cs")).cast("double")
                / (F.lit(n_total) - F.col("ns"))
            )
        ).alias("d_stat")
    )
    neff = F.col("ns").cast("double") * (F.lit(n_total) - F.col("ns")) / F.lit(
        float(n_total)
    )
    lam = F.col("d_stat") * F.sqrt(neff)
    p = 2.0 * F.exp(-2.0 * lam * lam)
    return d.select(
        "source",
        F.col("ns").cast("bigint").alias("n_source"),
        "d_stat",
        lam.alias("ks_lambda"),
        p.alias("p_approx"),
        (p < KS_ALPHA).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# q_negative_sampling — word2vec-style unigram^0.75 negative draws
# ---------------------------------------------------------------------------

NEG_N = 4  # negatives drawn per document

# c^0.75 spelled as sqrt(sqrt(c*c*c)): sqrt is IEEE correctly-rounded in
# every engine while pow() is not — this form is bit-identical cross-engine.
_NEG_WT_SQL = "sqrt(sqrt(CAST(c AS DOUBLE) * c * c))"


@query(
    "q_negative_sampling",
    oracle=f"""
    WITH cnt AS (
      SELECT token, count(*) AS c
      FROM (SELECT unnest({{tk}}) AS token FROM documents) GROUP BY 1
    ),
    vocab AS (
      SELECT token,
             CAST(CAST(sum(CAST({_NEG_WT_SQL} AS DECIMAL(18,6)))
                       OVER (ORDER BY token ROWS UNBOUNDED PRECEDING)
                       - CAST({_NEG_WT_SQL} AS DECIMAL(18,6))
                  AS STRING) AS DOUBLE) AS cp,
             CAST(CAST(sum(CAST({_NEG_WT_SQL} AS DECIMAL(18,6)))
                       OVER (ORDER BY token ROWS UNBOUNDED PRECEDING)
                  AS STRING) AS DOUBLE) AS cm
      FROM cnt
    ),
    tot AS (SELECT max(cm) AS w, count(*) AS nb FROM vocab),
    seg AS (
      SELECT token, cp, cm, b
      FROM vocab, tot,
           unnest(range(CAST(floor(cp / (w / nb)) AS BIGINT),
                        least(CAST(floor(cm / (w / nb)) AS BIGINT), nb - 1) + 1))
             AS t(b)
    ),
    draws AS (
      SELECT doc_id, i,
             ('0x' || substr(md5('neg:' || doc_id::VARCHAR || ':' || i::VARCHAR),
                             1, 8))::BIGINT / 4294967296.0 * (SELECT w FROM tot)
               AS u
      FROM documents, (SELECT unnest(range({NEG_N})) AS i) t
    )
    SELECT d.doc_id, CAST(d.i AS INT) AS draw, s.token AS neg_token
    FROM draws d
    JOIN seg s
      ON s.b = least(CAST(floor(d.u / ((SELECT w FROM tot) / (SELECT nb FROM tot)))
                     AS BIGINT), (SELECT nb FROM tot) - 1)
     AND s.cp <= d.u AND d.u < s.cm
    """.replace("{tk}", "list_filter(string_split(lower(text), ' '), t -> t <> '')"),
    description=f"word2vec-style negative sampling: {NEG_N} deterministic "
    "draws per document from the unigram^0.75 distribution (Mikolov 2013), "
    "RNG-free via md5(doc, draw) uniforms inverted through the vocabulary "
    "CDF. The CDF is a decimal-exact cumulative (association-order-proof), "
    "the 0.75 power is spelled sqrt(sqrt(c^3)) because sqrt is correctly-"
    "rounded where pow is not, and the inverse lookup is a BUCKETED range "
    "join: draws and vocabulary segments equi-join on a CDF bucket "
    "(bucket count = vocabulary size, so O(1) segments per bucket), never "
    "a nested-loop inequality join — the linear-cost inverse-CDF sampler "
    "that survives a 100 TB vocabulary. Plan: one token count, a "
    "vocabulary-sized window, one equi-join shuffle on bucket",
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    cnt = token_counts(docs)
    wt = F.sqrt(F.sqrt(F.col("n").cast("double") * F.col("n") * F.col("n")))
    wt_dec = wt.cast("decimal(18,6)")
    w = W.orderBy("word").rowsBetween(W.unboundedPreceding, W.currentRow)
    # read by the build-time scalar below and by the query: pinned
    vocab = pin(cnt.select(
        "word",
        (F.sum(wt_dec).over(w) - wt_dec).cast("double").alias("cp"),
        F.sum(wt_dec).over(w).cast("double").alias("cm"),
    ))
    tot_w, n_vocab = vocab.agg(F.max("cm"), F.count(F.lit(1))).first()
    bw = F.lit(tot_w) / F.lit(n_vocab)
    seg = vocab.select(
        "word", "cp", "cm",
        F.explode(
            F.sequence(
                F.floor(F.col("cp") / bw).cast("bigint"),
                F.least(
                    F.floor(F.col("cm") / bw).cast("bigint"),
                    F.lit(n_vocab - 1),
                ),
            )
        ).alias("b"),
    )
    draws = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(NEG_N - 1))).alias("i")
    ).select(
        "doc_id", "i",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("neg:"),
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint")
            / F.lit(4294967296.0)
            * F.lit(tot_w)
        ).alias("u"),
    )
    drawn = draws.withColumn(
        "b",
        F.least(
            F.floor(F.col("u") / bw).cast("bigint"), F.lit(n_vocab - 1)
        ),
    )
    return (
        drawn.join(seg, "b")
        .filter((F.col("cp") <= F.col("u")) & (F.col("u") < F.col("cm")))
        .select(
            "doc_id",
            F.col("i").cast("int").alias("draw"),
            F.col("word").alias("neg_token"),
        )
    )


# ---------------------------------------------------------------------------
# q_js_divergence — unigram-distribution JS divergence of each source vs corpus
# ---------------------------------------------------------------------------

_JS_TK = "list_filter(string_split(lower(text), ' '), t -> t <> '')"


@query(
    "q_js_divergence",
    oracle=f"""
    WITH st AS (
      SELECT source, token, count(*) AS c
      FROM (SELECT source, unnest({_JS_TK}) AS token FROM documents)
      GROUP BY 1, 2
    ),
    stot AS (SELECT source, sum(c) AS ts FROM st GROUP BY 1),
    ct AS (SELECT token, sum(c) AS g FROM st GROUP BY 1),
    tot AS (SELECT sum(c) AS t FROM st),
    terms AS (
      SELECT st.source,
             CAST(st.c AS DOUBLE) / stot.ts AS p,
             CAST(ct.g AS DOUBLE) / (SELECT t FROM tot) AS q
      FROM st JOIN stot ON stot.source = st.source
              JOIN ct ON ct.token = st.token
    )
    SELECT source,
           0.5 * CAST(CAST(sum(CAST(p * ln(2.0 * p / (p + q))
                                    AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
           + 0.5 * (ln(2.0)
                    + CAST(CAST(sum(CAST(q * ln(q / (p + q))
                                         AS DECIMAL(18,12))) AS STRING) AS DOUBLE))
             AS js,
           (0.5 * CAST(CAST(sum(CAST(p * ln(2.0 * p / (p + q))
                                     AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
            + 0.5 * (ln(2.0)
                     + CAST(CAST(sum(CAST(q * ln(q / (p + q))
                                          AS DECIMAL(18,12))) AS STRING) AS DOUBLE)))
             / ln(2.0) AS js_norm,
           CAST(count(*) AS BIGINT) AS n_shared_tokens
    FROM terms GROUP BY source
    """,
    description="Jensen-Shannon divergence between each source's unigram "
    "distribution and the whole corpus — the content-drift twin of the "
    "KS length test (q_ks_drift), bounded in [0, ln 2] and reported "
    "normalized too. The absent-token mass is folded in algebraically "
    "(sum over tokens the source lacks collapses to ln2 minus shared-"
    "token corrections), so ONLY (source, token) rows that exist are ever "
    "materialized — no sources x vocabulary grid. Plan: one (source, "
    "token) aggregation, a vocabulary-sized token-marginal join, "
    "decimal-cast term sums per source (which also absorb ln ulp wobble)",
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from go_web_mapreduce_spark.functions.numeric import dsum

    # vocabulary-bounded census, FOUR consumers (stot, ct, the total
    # scalar, terms); the scalar is a build-time action, so unpinned the
    # corpus tokenize+explode runs again in the query itself
    st = pin(token_counts(load_table(spark, sf_dir, "documents"), "source"))
    stot = st.groupBy("source").agg(F.sum("n").alias("ts"))
    ct = st.groupBy("word").agg(F.sum("n").alias("g"))
    total = st.agg(F.sum("n")).first()[0]
    terms = (
        st.join(F.broadcast(stot), "source")
        .join(F.broadcast(ct), "word")
        .select(
            "source",
            (F.col("n").cast("double") / F.col("ts")).alias("p"),
            (F.col("g").cast("double") / F.lit(float(total))).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    t1 = dsum(p * F.log(2.0 * p / (p + q)), 12)
    t2 = dsum(q * F.log(q / (p + q)), 12)
    js = 0.5 * t1 + 0.5 * (F.lit(math.log(2.0)) + t2)
    return terms.groupBy("source").agg(
        js.alias("js"),
        (js / math.log(2.0)).alias("js_norm"),
        F.count(F.lit(1)).alias("n_shared_tokens"),
    )


# ---------------------------------------------------------------------------
# q_cross_entropy — per-source cross-entropy / perplexity under the corpus LM
# ---------------------------------------------------------------------------

XENT_ALPHA = 1  # Laplace smoothing count for the corpus unigram LM


@query(
    "q_cross_entropy",
    oracle=f"""
    WITH st AS (
      SELECT source, token, count(*) AS c
      FROM (SELECT source, unnest({_JS_TK}) AS token FROM documents)
      GROUP BY 1, 2
    ),
    ct AS (SELECT token, sum(c) AS g FROM st GROUP BY 1),
    tot AS (SELECT sum(g) AS t, count(*) AS v FROM ct),
    terms AS (
      SELECT st.source, st.c, ln(ct.g + {XENT_ALPHA}) AS lg
      FROM st JOIN ct ON ct.token = st.token
    ),
    agg AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(CAST(sum(CAST(c * lg AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
               AS sum_clg
      FROM terms GROUP BY source
    )
    SELECT source, n_tokens,
           ln(CAST((SELECT t + {XENT_ALPHA} * v FROM tot) AS DOUBLE))
             - sum_clg / n_tokens AS cross_entropy,
           exp(ln(CAST((SELECT t + {XENT_ALPHA} * v FROM tot) AS DOUBLE))
               - sum_clg / n_tokens) AS perplexity
    FROM agg
    """,
    description="per-source cross-entropy (nats/token) and perplexity under "
    "the Laplace-smoothed corpus unigram LM — the domain-shift scalar "
    "every mixture decision reads (a source scoring far above the corpus "
    "self-entropy is out-of-distribution or noise). Plan: one (source, "
    "token) aggregation joined to the vocabulary-sized corpus marginal; "
    "per-term ln lands in decimal-cast sums (ulp-proof), the corpus "
    "totals ride a scalar subquery / literal; nothing corpus-sized "
    "shuffles twice",
)
def q_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_web_mapreduce_spark.functions.numeric import dsum

    # both vocabulary-bounded; ct feeds the build-time totals scalar and the
    # join, st feeds ct and the terms: pinned
    st = pin(token_counts(load_table(spark, sf_dir, "documents"), "source"))
    ct = pin(st.groupBy("word").agg(F.sum("n").alias("g")))
    t_total, vocab = ct.agg(F.sum("g"), F.count(F.lit(1))).first()
    # H = ln(T + aV) - sum(c ln(g + a))/n : the smoothing denominator folds
    # into one constant, so the per-term join carries only ln(g + a)
    terms = st.join(F.broadcast(ct), "word").select(
        "source", "n", F.log(F.col("g") + XENT_ALPHA).alias("lg")
    )
    agg = terms.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        dsum(F.col("n") * F.col("lg"), 8).alias("sum_clg"),
    )
    ce = (
        F.log(F.lit(float(t_total + XENT_ALPHA * vocab)))
        - F.col("sum_clg") / F.col("n_tokens")
    )
    return agg.select(
        "source", "n_tokens", ce.alias("cross_entropy"), F.exp(ce).alias("perplexity")
    )


# ---------------------------------------------------------------------------
# q_group_split — leakage-safe train/valid/test split at the GROUP level
# ---------------------------------------------------------------------------

GROUP_SPLIT_MOD = 100
GROUP_SPLIT_TRAIN = 80  # buckets [0,80) train, [80,90) valid, [90,100) test
GROUP_SPLIT_VALID = 90


@query(
    "q_group_split",
    oracle=f"""
    WITH assigned AS (
      SELECT user_id, event_id,
             CASE
               WHEN ('0x' || substr(md5('gs:' || user_id::VARCHAR), 1, 4))::BIGINT
                    % {GROUP_SPLIT_MOD} < {GROUP_SPLIT_TRAIN} THEN 'train'
               WHEN ('0x' || substr(md5('gs:' || user_id::VARCHAR), 1, 4))::BIGINT
                    % {GROUP_SPLIT_MOD} < {GROUP_SPLIT_VALID} THEN 'valid'
               ELSE 'test' END AS split
      FROM events
    )
    SELECT split,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM assigned GROUP BY split
    """,
    description="leakage-safe split: EVERY event of a user lands in the "
    "same train/valid/test bucket because the md5 bucket is a function of "
    "the user alone (80/10/10) — the group-level sibling of the row-level "
    "q_train_test_split, preventing the same entity from appearing on "
    "both sides of an evaluation (the leakage a row split silently "
    "allows). Plan: map-side split assignment, one (split, user) "
    "aggregation; reproducible on any cluster/partitioning",
)
def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("gs:"), F.col("user_id").cast("string"))), 1, 4),
            16, 10,
        ).cast("bigint")
        % GROUP_SPLIT_MOD
    )
    assigned = ev.select(
        "user_id", "event_id",
        F.when(bucket < GROUP_SPLIT_TRAIN, "train")
        .when(bucket < GROUP_SPLIT_VALID, "valid")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q_dp_histogram — differentially-private histogram release (Laplace)
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0  # privacy budget; Laplace scale b = sensitivity / epsilon
DP_SALT = "dp"  # domain-separation prefix for the per-cell noise draw
_DP_2POW48 = float(1 << 48)


@query(
    "q_dp_histogram",
    oracle=f"""
    WITH cells AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    draw AS (
      SELECT event_type, day, n,
             (('0x' || substr(md5('{DP_SALT}:' || event_type || ':'
                                  || strftime(day, '%Y-%m-%d')), 1, 12))::BIGINT
              + 0.5) / {_DP_2POW48!r} AS u
      FROM cells
    ),
    noised AS (
      SELECT event_type, day, n, u,
             CASE WHEN u < 0.5
                  THEN ln(2.0 * u) / {DP_EPSILON}
                  ELSE -ln(2.0 * (1.0 - u)) / {DP_EPSILON}
             END AS lap
      FROM draw
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
           n + lap AS noisy_n,
           CAST({DP_EPSILON} AS DOUBLE) AS epsilon,
           ln(1.0 / 0.05) / {DP_EPSILON} AS err_bound_95
    FROM noised
    """,
    description=f"REPRODUCIBLE SIMULATION of a Laplace histogram release "
    "(Dwork 2006) over the (event_type, day) count grid, built for "
    "engine-parity testing — NOT a usable DP mechanism as registered: the "
    "noise is a deterministic function of the PUBLIC cell key (salt "
    f"'{DP_SALT}' + event_type + day), so anyone can recompute it, and the "
    "raw count n is emitted alongside noisy_n, so the release here is "
    "effectively epsilon=infinity. A real deployment must (a) make the "
    "salt a secret key (the draw then becomes a PRF, giving the standard "
    "Laplace mechanism) and (b) withhold n and every u/lap intermediate. "
    f"Mechanics are the real ones: Laplace(1/epsilon) per cell at "
    f"event-level sensitivity 1, epsilon={DP_EPSILON}, 95% error bound "
    "b*ln(1/0.05). The draw is content-addressed inverse-CDF: a 48-bit "
    "md5 uniform u = (k+0.5)/2^48 whose ln argument (2u below the median, "
    "2(1-u) above — both exact in IEEE double by construction) is "
    "bit-identical across engines, so the only cross-engine surface is "
    "one libm ln ulp, absorbed by the comparator's 6-significant-digit "
    "rounding. Plan: one corpus aggregation to the (type, day) grid; "
    "noise is map-side arithmetic on the dimension-sized grid",
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    key = F.concat(
        F.lit(f"{DP_SALT}:"),
        F.col("event_type"),
        F.lit(":"),
        F.date_format("day", "yyyy-MM-dd"),
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("bigint") + 0.5
    ) / F.lit(_DP_2POW48)
    lap = F.when(u < 0.5, F.log(2.0 * u) / DP_EPSILON).otherwise(
        -F.log(2.0 * (1.0 - u)) / DP_EPSILON
    )
    import math

    return cells.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        (F.col("n") + lap).alias("noisy_n"),
        F.lit(DP_EPSILON).cast("double").alias("epsilon"),
        F.lit(math.log(1.0 / 0.05) / DP_EPSILON).alias("err_bound_95"),
    )


# ---------------------------------------------------------------------------
# q_orc_roundtrip — file-format interchange: parquet → ORC → DataFrame
# ---------------------------------------------------------------------------


@query(
    "q_orc_roundtrip",
    # lossless round trip ⇒ the oracle aggregates the parquet source
    # directly; any encoding/typing bug in the ORC path shows up as a
    # count or checksum mismatch
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM documents GROUP BY lang, source
    """,
    description="file-format interchange (SURVEY §2.2 connectors): the "
    "documents table written as ORC (Spark's second native columnar "
    "format — the Hive-ecosystem interchange the way parquet is the "
    "Spark-native one) and read back with an explicit schema; per-"
    "(lang, source) counts, distinct-text counts, and checksums "
    "hash-verify against the parquet source",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC is the third leg of the interchange family (CSV → text with a
    null-sentinel caveat, JSONL → text with none, ORC → binary columnar
    with types preserved exactly, so no sentinel and no re-typing risk at
    all). Spark's native ORC reader/writer (spark.sql.orc.impl=native)
    gives predicate pushdown and column pruning like parquet, so at
    100 TB the round trip is one distributed scan each way with the same
    pushdown posture as the parquet path — this query is the proof that
    a Hive/Trino-managed ORC lake can be a first-class source and sink
    for every other operator in the registry."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # nonce-keyed scratch path (see sinks.scratch_dir): race-free, scope-freed
    path = scratch_dir("orc")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).orc(path)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# q_partitioned_prune — hive-style partitioned layout + partition pruning
# ---------------------------------------------------------------------------


@query(
    "q_partitioned_prune",
    # the partitioned write must be lossless and the pruned read must see
    # exactly the lang='en' slice, so the oracle filters the source table
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE lang = 'en' GROUP BY source
    """,
    description="data-layout management (the 100 TB table-design "
    "primitive): the documents table written hive-partitioned by lang "
    "(partitionBy → lang=en/ directories), read back with a lang filter "
    "that resolves to PartitionFilters — directory-level pruning, zero "
    "I/O on the other four language slices; per-source census over the "
    "pruned read hash-verifies against filtering the unpartitioned source",
)
def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning is the coarsest and cheapest filter an engine
    has: the lang predicate is resolved against directory NAMES at plan
    time, so a 100 TB corpus partitioned by a low-cardinality column
    (lang, date, source-family) serves a one-partition query with one
    partition's I/O. The plan gate (tests/test_plans.py) asserts the scan
    carries the lang predicate as a PartitionFilter, not a data filter —
    the difference between reading 1/5th of the lake and reading all of
    it and throwing 4/5ths away. Partition values ride directory names,
    so the partition column comes back typed by the reader: the explicit
    schema below pins it to string (inference is off-path), keeping the
    round trip byte-lossless. Cardinality discipline: partitionBy is for
    LOW-cardinality keys only — a high-cardinality partition column
    (user_id, doc_id) explodes into millions of tiny directories and
    kills the metadata layer; that shape belongs to bucketing
    (q_bucketed_join) or Z-ordering (q_zorder_cluster) instead."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # nonce-keyed scratch path (see sinks.scratch_dir): race-free, scope-freed
    path = scratch_dir("part")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.schema(
        "doc_id bigint, text string, source string, n_chars bigint, lang string"
    ).parquet(path)
    return (
        back.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_unique"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q_bucketed_join — pre-bucketed tables join with NO shuffle on either side
# ---------------------------------------------------------------------------


@query(
    "q_bucketed_join",
    # bucketing must not change results: the oracle is the plain join
    # over the unbucketed source tables
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY o_orderpriority
    """,
    description="co-located join via bucketed table layout (the 100 TB "
    "shuffle-elimination play): customer and orders persisted bucketed "
    "by custkey into the same bucket count, then sort-merge-joined with "
    "ZERO Exchange on either side — the join reads bucket i against "
    "bucket i directly; result hash-verifies against the plain join",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing trades one write-time shuffle for shuffle-freedom on
    EVERY subsequent join/aggregate on the bucket key — the standard
    layout for a 100 TB fact table that is repeatedly joined on the same
    key (orders ⋈ customer, events ⋈ users). Both sides are written with
    bucketBy(8, custkey) + sortBy into external parquet tables (native
    Spark bucketing, in-memory catalog — no Hive metastore needed); the
    merge hint pins SortMergeJoin so the plan gate can assert there is no
    Exchange between either scan and the join. At cluster scale the
    bucket count is sized to executor-fleet parallelism (thousands), not
    the 8 used at test scale; the write-side repartition(8, key) puts
    each bucket in exactly ONE file per side, which also removes the
    per-bucket merge-sort fan-in on read."""
    # nonce-keyed path AND table names (see sinks.scratch_dir): two concurrent
    # invocations can never race on the same catalog table or directory
    base = scratch_dir("bucket")
    tc = scratch_table(spark, "bkt_customer")
    to = scratch_table(spark, "bkt_orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    for name, df, col in ((tc, customer, "c_custkey"), (to, orders, "o_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.repartition(8, F.col(col))
            .write.mode("overwrite")
            .bucketBy(8, col)
            .sortBy(col)
            .option("path", f"{base}/{name}")
            .saveAsTable(name)
        )
    c, o = spark.table(tc), spark.table(to)
    joined = c.hint("merge").join(o, c.c_custkey == o.o_custkey, "inner")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        dsum("o_totalprice").alias("total"),
    )


# ---------------------------------------------------------------------------
# q_gdpr_erasure — right-to-be-forgotten cascade census
# ---------------------------------------------------------------------------

ERASE_PCT_BUCKET = 25  # erase users whose md5 bucket < 25/1000 (~2.5%)


@query(
    "q_gdpr_erasure",
    oracle=f"""
    WITH victims AS (
      SELECT c_custkey FROM customer
      WHERE CAST(('0x' || substr(md5('erase:' || CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
            % 1000 < {ERASE_PCT_BUCKET}
    ),
    o AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM victims)
    ),
    l AS (
      SELECT l_orderkey FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM o)
    ),
    e AS (
      SELECT user_id FROM events
      WHERE user_id IN (SELECT c_custkey FROM victims)
    )
    SELECT CAST((SELECT count(*) FROM victims) AS BIGINT) AS n_users,
           CAST((SELECT count(*) FROM o) AS BIGINT) AS n_orders,
           CAST((SELECT count(*) FROM l) AS BIGINT) AS n_lineitems,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_events,
           CAST((SELECT count(*) FROM customer) -
                (SELECT count(*) FROM victims) AS BIGINT) AS customers_kept,
           CAST((SELECT count(*) FROM orders) -
                (SELECT count(*) FROM o) AS BIGINT) AS orders_kept
    """,
    description="right-to-be-forgotten cascade census: a deterministic "
    f"~{ERASE_PCT_BUCKET / 10}% erasure cohort (md5-bucketed custkeys — in "
    "production, the actual DSR list) traced through the referential "
    "cascade customer → orders → lineitem and customer → events; exact "
    "counts of every row the erasure touches plus the kept complements — "
    "the blast-radius report every GDPR/CCPA deletion job runs BEFORE "
    "rewriting 100 TB, and the post-condition check after",
)
def q_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure at lake scale is three broadcast/semi-join prunes, not a
    scan-and-filter of every table by a Python list: the victim set stays
    a DataFrame end to end (no driver collect — a DSR list of millions
    would kill a collect-based plan), orders prune by an o_custkey
    semi-join, lineitems by an l_orderkey semi-join against the pruned
    orders (the transitive cascade), events by user_id. Each census leg
    is a partial-aggregated count on the semi-join output; at 100 TB the
    victim side broadcasts and every fact table is read once. The same
    plan with anti-joins IS the deletion rewrite (see q_except /
    q_upsert for the write patterns); this operator is the audit face."""
    spark_victims_pred = (
        F.conv(F.substring(F.md5(F.concat(F.lit("erase:"), F.col("c_custkey").cast("string"))), 1, 6), 16, 10)
        .cast("bigint") % 1000
        < ERASE_PCT_BUCKET
    )
    customer = load_table(spark, sf_dir, "customer")
    victims = customer.where(spark_victims_pred).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    o = orders.join(
        victims, orders.o_custkey == victims.c_custkey, "left_semi"
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    li = lineitem.join(
        o.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    events = load_table(spark, sf_dir, "events")
    ev = events.join(
        victims, events.user_id == victims.c_custkey, "left_semi"
    )
    n_users = victims.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_users")
    )
    n_orders = o.agg(F.count(F.lit(1)).alias("n_orders"))
    n_li = li.agg(F.count(F.lit(1)).alias("n_lineitems"))
    n_ev = ev.agg(F.count(F.lit(1)).alias("n_events"))
    n_cust = customer.agg(F.count(F.lit(1)).alias("nc"))
    n_ord = orders.agg(F.count(F.lit(1)).alias("no"))
    out = (
        n_users.join(n_orders)
        .join(n_li)
        .join(n_ev)
        .join(n_cust)
        .join(n_ord)
    )
    return out.select(
        "n_users",
        "n_orders",
        "n_lineitems",
        "n_events",
        (F.col("nc") - F.col("n_users")).alias("customers_kept"),
        (F.col("no") - F.col("n_orders")).alias("orders_kept"),
    )


# ---------------------------------------------------------------------------
# q_data_contract — declarative expectation checks (ingest gate)
# ---------------------------------------------------------------------------

# (table, column, check name, SQL violation predicate — shared verbatim)
CONTRACT_CHECKS = (
    ("documents", "text", "not_null", "text IS NULL"),
    ("documents", "text", "not_empty", "length(text) = 0"),
    ("documents", "lang", "enum_member",
     "lang NOT IN ('de', 'en', 'es', 'fr', 'zh')"),
    ("documents", "n_chars", "in_range",
     "n_chars < 1 OR n_chars > 100000"),
    ("documents", "n_chars", "consistent_with_text",
     "n_chars <> length(text)"),
    ("events", "value", "non_negative", "value < 0"),
    ("events", "event_type", "enum_member",
     "event_type NOT IN ('view', 'click', 'purchase', 'signup', 'error')"),
    ("events", "user_id", "not_null", "user_id IS NULL"),
)


def _contract_oracle() -> str:
    legs = []
    for table, col, check, pred in CONTRACT_CHECKS:
        legs.append(f"""
    SELECT '{table}' AS tbl, '{col}' AS col, '{check}' AS chk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(CASE WHEN sum(CASE WHEN {pred} THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END AS INT) AS pass
    FROM {table}""")
        # noqa: the predicate text is a module constant, not user input
    return "\nUNION ALL\n".join(legs)


@query(
    "q_data_contract",
    oracle=_contract_oracle(),
    description=f"declarative data-contract gate ({len(CONTRACT_CHECKS)} "
    "expectations over documents and events: not-null, non-empty, enum "
    "membership, numeric range, cross-column consistency) — one row per "
    "check with exact violation counts and a pass flag; the schema-and-"
    "content admission test every ingest into a governed 100 TB lake "
    "runs before data lands (the Great-Expectations / dbt-test shape). "
    "Each check's violation predicate is ONE shared SQL text evaluated "
    "by both engines, so the census is definitionally engine-identical",
)
def q_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All checks against one table fuse into a SINGLE aggregate scan
    (conditional sums), so the cost is one pass per table regardless of
    how many expectations the contract grows — the property that keeps a
    500-assertion production contract from becoming 500 scans. The
    per-check rows come from a literal-labeled projection of that one
    aggregate, not per-check jobs. Violating ROWS are deliberately not
    emitted (at 100 TB that can be the whole table); the quarantine
    rewrite is this plan's filter complement, same scan."""
    by_table: dict[str, list[tuple[str, str, str]]] = {}
    for table, col, check, pred in CONTRACT_CHECKS:
        by_table.setdefault(table, []).append((col, check, pred))
    legs = []
    for table, checks in by_table.items():
        df = load_table(spark, sf_dir, table)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for i, (_, _, pred) in enumerate(checks):
            aggs.append(
                F.sum(F.when(F.expr(pred), 1).otherwise(0)).alias(f"v{i}")
            )
        # 1-row pin, load-bearing: each check leg projects from this
        # aggregate, and each leg prunes the aggregate to its own columns,
        # so the legs share no exchange — unpinned, the table is re-scanned
        # once per expectation
        one = pin(df.agg(*aggs))
        for i, (col, check, _) in enumerate(checks):
            legs.append(
                one.select(
                    F.lit(table).alias("tbl"),
                    F.lit(col).alias("col"),
                    F.lit(check).alias("chk"),
                    "n_rows",
                    F.col(f"v{i}").alias("n_violations"),
                    F.when(F.col(f"v{i}") == 0, 1)
                    .otherwise(0)
                    .cast("int")
                    .alias("pass"),
                )
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# q_class_balance — deterministic balanced downsampling to the minority class
# ---------------------------------------------------------------------------


@query(
    "q_class_balance",
    oracle="""
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)),
                                         doc_id) AS r,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    ),
    floor_n AS (SELECT min(n_lang) AS n_min FROM ranked),
    kept AS (
      SELECT lang, n_chars, n_lang FROM ranked, floor_n WHERE r <= n_min
    )
    SELECT lang,
           CAST(max(n_lang) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           CAST(max(n_lang) - count(*) AS BIGINT) AS n_dropped
    FROM kept GROUP BY lang
    """,
    description="class-balanced downsampling: every language class cut to "
    "the minority class's size by a DETERMINISTIC md5 lottery (rank by "
    "md5('bal:'||doc_id) within class — reproducible across runs and "
    "engines, no RNG), per-class kept/dropped census with exact kept-"
    "char sums; the class-rebalancing step imbalanced-label training "
    "sets get before a classifier sees them (the fixed-quota cousin of "
    "q_stratified_sample's proportional draw)",
)
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on lang ranks each class by the md5 lottery; the
    minority size is a 1-row broadcast. The md5 rank — not a float RNG —
    is what makes the sample identical on any engine, any partitioning,
    any run: the keep set is a pure function of doc_id. At 100 TB the
    per-class windows are the only sort, and a class too large to sort
    switches to the threshold form (keep iff md5 < n_min/n_class
    quantile of the class's hash distribution) — same determinism, no
    window; the census here is the audit either way."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number()
        .over(
            W.partitionBy("lang").orderBy(
                F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))),
                "doc_id",
            )
        )
        .alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n_lang"),
    )
    floor_n = ranked.agg(F.min("n_lang").alias("n_min"))
    kept = ranked.join(F.broadcast(floor_n)).where(F.col("r") <= F.col("n_min"))
    return kept.groupBy("lang").agg(
        F.max("n_lang").alias("n_total"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        (F.max("n_lang") - F.count(F.lit(1))).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# q_l_diversity — sensitive-attribute diversity audit of the k-anonymity
# equivalence classes (Machanavajjhala 2007), the companion check to
# q_kanonymity: a class can satisfy k and still leak if every member
# shares the same sensitive value
# ---------------------------------------------------------------------------

LDIV_L = 3  # classes with fewer distinct sensitive values are leaks
LDIV_BAND = 1000  # same account-balance band as q_kanonymity


@query(
    "q_l_diversity",
    oracle=f"""
    WITH joined AS (
      SELECT c.c_nationkey,
             c.c_mktsegment,
             CAST(floor(c.c_acctbal / {LDIV_BAND}) AS BIGINT) AS bal_band,
             o.o_orderpriority AS sens
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    classes AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT sens) AS l
      FROM joined GROUP BY 1, 2, 3
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l < {LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS leaky_classes,
           CAST(SUM(CASE WHEN l < {LDIV_L} THEN n_rows ELSE 0 END) AS BIGINT)
             AS leaky_rows,
           SUM(CASE WHEN l < {LDIV_L} THEN n_rows ELSE 0 END)::DOUBLE
             / SUM(n_rows) AS leak_rate
    FROM classes GROUP BY c_nationkey
    """,
    description="l-diversity audit (Machanavajjhala 2007) over the same "
    "quasi-identifier classes as q_kanonymity (nation, segment, balance "
    "band) with order priority as the sensitive attribute: per-nation "
    "census of classes whose sensitive-value diversity falls below "
    f"l={LDIV_L} — the homogeneity-attack check k-anonymity alone misses. "
    "One fact-side join, one distinct-count aggregate over the QI tuple, "
    "one nation rollup; all-integer outputs plus one exact division",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: the customer→orders join shuffles on custkey once
    (or is co-located if both are bucketed on the key, as q_bucketed_join
    demonstrates); the diversity census is then a two-level partial
    aggregate — count + count_distinct(sens) keyed by the QI tuple, whose
    cardinality is bounded by the QI value space (nations × segments ×
    balance bands), not corpus rows — and the nation rollup is
    dimension-sized. count_distinct over a 5-value sensitive attribute
    partial-aggregates to a set of at most 5 per key map-side, so the
    shuffle carries QI keys with tiny state, never raw rows."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / LDIV_BAND).cast("bigint").alias("bal_band"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderpriority").alias("sens")
    )
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey)
    classes = joined.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("sens").alias("l"),
    )
    leaky_rows = F.when(F.col("l") < LDIV_L, F.col("n_rows")).otherwise(F.lit(0))
    return classes.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("l").alias("min_l"),
        F.sum(F.when(F.col("l") < LDIV_L, 1).otherwise(0)).alias("leaky_classes"),
        F.sum(leaky_rows).alias("leaky_rows"),
        (F.sum(leaky_rows).cast("double") / F.sum("n_rows")).alias("leak_rate"),
    )
