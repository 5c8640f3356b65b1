"""From-scratch engine-portable HyperLogLog (Flajolet et al. 2007, public).

Why not ``approx_count_distinct`` / ``hll_sketch_agg``? Both are excellent
at 100 TB (fixed-size binary states, map-side merged) but their sketch
internals are engine-specific, so a DuckDB oracle can never reproduce
their estimates — the queries stay "rows-only" forever. This module
re-derives HLL from its public definition using only operations both
engines compute bit-identically, which makes the whole pipeline —
bucketing, register maxima, merge, estimate — hash-verifiable:

- hash     = md5 hex (the repo-wide portable hash; see hashing.py)
- bucket   = first 3 hex chars -> 12 bits -> m = 4096 registers
- rank     = 1 + leading-zero BITS of the next 10 hex chars (a 40-bit
             word), computed from the HEX STRING with trim/length/CASE —
             pure integer+string ops, no floats, no engine bit builtins
- register = max(rank) per (group, bucket): associative + commutative, so
             partial aggregation and sketch MERGE are exact by algebra
- harmonic sum: sum(2^(41-M)) as a BIGINT — every term is a dyadic
             integer and the worst-case total is m * 2^41 = 2^53, inside
             int64, so the sum is EXACT and order-independent (a float
             sum of 2^-M terms at this width is not: 4096 terms spanning
             2^0..2^-41 exceed a double's 52-bit mantissa)
- estimate = alpha_m * m^2 * 2^41 / S — one literal constant (computed
             in Python, inlined as the same decimal into both plans) and
             one correctly-rounded IEEE division: deterministic
- small-range (linear counting) correction: m * ln(m/V) needs ``ln``,
  and engine ``ln`` is NOT portable — measured: Spark's and DuckDB's ln
  disagree in the 10th significant digit, and 3 of the 4096 possible
  inputs cross a 6-decimal rounding boundary. So the correction is a
  4096-entry LITERAL TABLE computed once in Python (``repr`` round-trips
  the exact double) and indexed by V in both engines. The branch condition
  compares deterministic doubles, so branch choice is portable too.

Large-range correction is intentionally omitted: with a 40-bit rank word
the hash-collision regime starts near 2^40 distinct values per group —
document, don't branch.

Scale shape: the "sketch" is relational — (group, bucket, M) rows instead
of a binary blob. Registers partial-aggregate map-side (max), shuffle
volume is #groups x 4096 rows regardless of input size, and a persisted
register table IS the mergeable state: any rollup is a further max-group,
never a rescan. Reference parity: the reference's distinct counting is an
exact reduce (algorithm.go reduce phase); the sketch family is this
repo's 100 TB extension of it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

HLL_BITS = 12
HLL_M = 1 << HLL_BITS  # 4096 registers
HLL_RANK_HEX = 10  # 40-bit rank word
HLL_RANK_MAX = 4 * HLL_RANK_HEX + 1  # 41: word == 0
# exact dyadic scale: term = 2^(RANK_MAX - M) keeps the harmonic sum integral
HLL_SCALE_POW = HLL_RANK_MAX  # sum <= m * 2^41 = 2^53 < 2^63

# alpha_m for m >= 128 (Flajolet 2007 eq. 3), times m^2 * 2^scale — one
# double literal shared verbatim by both engines
_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_RAW_NUM = repr(_ALPHA * HLL_M * HLL_M * float(1 << HLL_SCALE_POW))
# linear-counting threshold: raw estimate below 2.5 m -> use m*ln(m/V)
HLL_LC_THRESHOLD = repr(2.5 * HLL_M)

# V -> m * ln(m / V), V in 1..m, computed HERE so both engines read the
# identical double literal instead of calling their own (non-portable) ln
HLL_LC_TABLE = [HLL_M * math.log(HLL_M / v) for v in range(1, HLL_M + 1)]


def _rank_sql(word: str) -> str:
    """Dialect-shared SQL: 1 + leading-zero bits of a 10-hex-char word.

    ``trim(LEADING '0' FROM w)`` drops whole zero nibbles (4 bits each);
    the first surviving hex digit contributes its own leading zeros by a
    4-way CASE. Empty trim result means word == 0 -> rank 41. Verified
    token-identical behavior in Spark SQL and DuckDB.
    """
    t = f"trim(LEADING '0' FROM {word})"
    return (
        f"CASE WHEN {t} = '' THEN {HLL_RANK_MAX} "
        f"ELSE 4 * ({HLL_RANK_HEX} - length({t})) + 1 + "
        f"(CASE WHEN substr({t}, 1, 1) = '1' THEN 3 "
        f"WHEN substr({t}, 1, 1) IN ('2','3') THEN 2 "
        f"WHEN substr({t}, 1, 1) IN ('4','5','6','7') THEN 1 "
        f"ELSE 0 END) END"
    )


def hll_bucket_sql_duckdb(value_expr: str) -> str:
    return f"('0x' || substr(md5({value_expr}), 1, 3))::BIGINT"


def hll_rank_sql(value_expr: str) -> str:
    """Rank SQL — token-identical in both dialects."""
    return _rank_sql(f"substr(md5({value_expr}), 4, {HLL_RANK_HEX})")


def hll_term_sql_duckdb(m_col: str) -> str:
    return f"(1::BIGINT << ({HLL_SCALE_POW} - {m_col}))"


def hll_term_sql_spark(m_col: str) -> str:
    return f"shiftleft(CAST(1 AS BIGINT), {HLL_SCALE_POW} - {m_col})"


def _lc_list_sql() -> str:
    return "[" + ",".join(repr(x) for x in HLL_LC_TABLE) + "]"


def hll_estimate_sql_duckdb(s_present: str, n_buckets: str) -> str:
    """Estimate from per-group integer stats: ``s_present`` = sum of
    2^(41-M) over PRESENT registers, ``n_buckets`` = count of present
    registers. Empty registers contribute 2^41 each to the harmonic sum
    and drive the linear-counting branch."""
    v = f"({HLL_M} - {n_buckets})"
    s = f"({s_present} + {v} * (1::BIGINT << {HLL_SCALE_POW}))"
    raw = f"({HLL_RAW_NUM} / {s})"
    lc = f"({_lc_list_sql()})[{v}]"  # 1-based; guarded by v > 0
    return (
        f"CASE WHEN {v} > 0 AND {raw} <= {HLL_LC_THRESHOLD} "
        f"THEN {lc} ELSE {raw} END"
    )


# the LC table as ONE string literal: F.lit(<4096-elem list>) builds the
# array with 4096 py4j round-trips — measured ~2 s of plan-construction
# time PER QUERY COMPILE (the q_approx_distinct bench hotspot, round 8).
# from_json(lit(str)) is a single Literal node; the parse runs per ROW but
# every consumer evaluates it on dimension-sized rows (one per group), and
# Jackson's strtod is correctly-rounded, so repr() round-trips each double
# exactly — bit-identical to the old array literal.
_LC_JSON = "[" + ",".join(repr(x) for x in HLL_LC_TABLE) + "]"


def hll_estimate_col(s_present: Column, n_buckets: Column) -> Column:
    """Spark twin of :func:`hll_estimate_sql_duckdb` — same constants, same
    literal LC table (one JSON-string Literal node), same branch
    condition."""
    v = F.lit(HLL_M) - n_buckets
    s = s_present + v.cast("bigint") * F.lit(1 << HLL_SCALE_POW)
    raw = F.lit(float(HLL_RAW_NUM)) / s
    lc = F.element_at(
        F.from_json(F.lit(_LC_JSON), "array<double>"), v.cast("int")
    )
    return F.when(
        (v > 0) & (raw <= F.lit(float(HLL_LC_THRESHOLD))), lc
    ).otherwise(raw)


def hll_registers(df, group_cols: list[str], value: Column, counts: bool = False):
    """Group -> (group_cols..., bucket, M) register table: the mergeable
    sketch state. Partial-aggregated max; at most 4096 rows per group
    survive the shuffle no matter the input size.

    ``counts=True`` adds a per-(group, bucket) row count ``cnt`` to the same
    aggregation, so per-group totals (``sum(cnt)``) ride the register pass
    for free instead of costing the consumer a second corpus scan — count is
    as partial-aggregation-friendly as max."""
    m = F.md5(value.cast("string"))
    word_sql = _rank_sql(f"substr(__hll_md5, 4, {HLL_RANK_HEX})")
    aggs = [F.max("rank").alias("M")]
    if counts:
        aggs.append(F.count(F.lit(1)).alias("cnt"))
    out = (
        df.select(*group_cols, m.alias("__hll_md5"))
        .select(
            *group_cols,
            F.conv(F.substring("__hll_md5", 1, 3), 16, 10)
            .cast("int")
            .alias("bucket"),
            F.expr(word_sql).alias("rank"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(*aggs)
    )
    return out


def hll_estimate_from_registers(registers, group_cols: list[str]) -> "DataFrame":
    """Merge a register table (possibly a union of independently-built
    states — max is the merge) and emit one estimate row per group."""
    merged = registers.groupBy(*group_cols, "bucket").agg(
        F.max("M").alias("M")
    )
    stats = merged.groupBy(*group_cols).agg(
        F.sum(
            F.expr(hll_term_sql_spark("M"))
        ).alias("_s"),
        F.count("*").alias("_nb"),
    )
    return stats.select(
        *group_cols, hll_estimate_col(F.col("_s"), F.col("_nb")).alias("approx")
    )
