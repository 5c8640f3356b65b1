"""Property-based tests (hypothesis) — invariants that must hold for ANY
input, not just the fixtures: the programmable kernel vs native plans,
MinHash estimates vs true jaccard, and portable-hash stability.

Spark actions are slow relative to hypothesis' default budget, so examples
are capped small and deadlines disabled; the point is breadth of shapes
(empty-ish keys, duplicates, unicode-ish strings), not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from go_web_mapreduce_spark.core import submit_algorithm
from go_web_mapreduce_spark.functions.hashing import hash_family, minhash_from_hashes, shingle_hashes
from go_web_mapreduce_spark.operators.relational import token_counts
from go_web_mapreduce_spark.sources.tables import kv_from_rows, local_frame

WORDS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd")), min_size=1, max_size=8
)

# mixed-case words glued to runs of spaces; a drawn text may be empty or
# only spaces
TEXTS = st.lists(
    st.one_of(
        st.text(alphabet="abAB", min_size=1, max_size=3),
        st.text(alphabet=" ", min_size=1, max_size=3),
    ),
    max_size=6,
).map("".join)

SPARK_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(words=st.lists(WORDS, min_size=1, max_size=40))
@SPARK_SETTINGS
def test_mr_kernel_counts_match_native_groupby(spark, words):
    """submit_algorithm word count == native groupBy().count() for any word
    multiset (the reference's flagship semantics, server/views.go:51-61)."""
    df = kv_from_rows(spark, [("", w) for w in words])
    got = {
        r["key"]: int(r["value"])
        for r in submit_algorithm(
            lambda k, v: (len(v) % 3, v, "1"),
            lambda k, vs: str(len(vs)),
            df,
            input_len=7,
            num_partitions=3,
        ).collect()
    }
    want = {
        r["value"]: r["n"]
        for r in df.groupBy("value").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


@given(
    words=st.lists(WORDS, min_size=1, max_size=30),
    input_len=st.integers(min_value=1, max_value=50),
    num_partitions=st.integers(min_value=1, max_value=8),
)
@SPARK_SETTINGS
def test_mr_kernel_result_independent_of_chunking(spark, words, input_len, num_partitions):
    """Chunk size and partition count are physical knobs — they must never
    change the answer (reference: algorithm/algorithm.go:91-103 splits are
    invisible to results)."""
    df = kv_from_rows(spark, [("", w) for w in words])
    out = submit_algorithm(
        lambda k, v: (hash(v) % num_partitions, v, "1"),
        lambda k, vs: str(len(vs)),
        df,
        input_len=input_len,
        num_partitions=num_partitions,
    )
    got = {r["key"]: r["value"] for r in out.collect()}
    assert sum(int(v) for v in got.values()) == len(words)
    assert set(got) == set(words)


@given(
    a=st.sets(WORDS, min_size=1, max_size=30),
    b=st.sets(WORDS, min_size=1, max_size=30),
)
@SPARK_SETTINGS
def test_minhash_equal_sets_equal_sigs_and_bounds(spark, a, b):
    """Identical sets → identical signatures; signature agreement is a
    [0,1]-bounded estimator that is exact for identical and (almost surely)
    below 1 for disjoint sets."""
    df = spark.createDataFrame(
        [(0, sorted(a)), (1, sorted(a)), (2, sorted(b))], "id bigint, sh array<string>"
    )
    sigs = {
        r["id"]: tuple(r["sig"])
        for r in df.select(
            "id",
            minhash_from_hashes(shingle_hashes(F.col("sh")), 12).alias("sig"),
        ).collect()
    }
    assert sigs[0] == sigs[1]
    if a.isdisjoint(b):
        matches = sum(x == y for x, y in zip(sigs[0], sigs[2]))
        assert matches < 12 or a == b


def test_hash_family_is_deterministic_and_distinct():
    fam = hash_family(12)
    assert fam == hash_family(12)
    assert len(set(fam)) == 12
    assert all(a % 2 == 1 for a, _ in fam)


# --- connected components vs reference union-find --------------------------


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference union-find: vertex → min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
@SPARK_SETTINGS
def test_connected_components_matches_union_find(spark, edges):
    from go_web_mapreduce_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a bigint, doc_b bigint"
    )
    got = {
        r["doc_id"]: r["root"] for r in connected_components(df).collect()
    }
    assert got == _uf_components(edges)


# --- sessionize vs pure-Python reference -----------------------------------


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
@SPARK_SETTINGS
def test_sessionize_matches_reference(spark, events):
    from go_web_mapreduce_spark.operators.temporal import sessionize

    GAP = 10  # microseconds, for the test
    rows = [(i, u, t * 1) for i, (u, t) in enumerate(events)]
    df = spark.createDataFrame(
        [(eid, u, ts * 1000) for eid, u, ts in rows],
        "event_id bigint, user_id bigint, ts_ns bigint",
    )
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize(df, gap_us=GAP).collect()
    }

    # reference: per user, sorted by (ts, event_id); new session when gap > GAP
    want = {}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for eid, u, ts in rows:
        by_user.setdefault(u, []).append((ts, eid))
    for u, evs in by_user.items():
        evs.sort()
        sid, prev = 0, None
        for ts, eid in evs:
            if prev is None or ts - prev > GAP:
                sid += 1
            want[eid] = sid
            prev = ts
    assert got == want


# --- upsert vs dict-based reference ----------------------------------------


@given(
    base=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)),
                  min_size=1, max_size=12),
    changes=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)),
                     min_size=0, max_size=6),
)
@SPARK_SETTINGS
def test_apply_upserts_latest_wins(spark, base, changes):
    from go_web_mapreduce_spark.operators.relational import apply_upserts

    # dedupe keys within each set (latest-wins is defined per version tier;
    # ties within a tier are arbitrary otherwise)
    base = list({k: v for k, v in base}.items())
    changes = list({k: v for k, v in changes}.items())
    bdf = spark.createDataFrame(
        [(k, v, 0) for k, v in base], "k bigint, val bigint, version int"
    )
    cdf = spark.createDataFrame(
        [(k, v, 1) for k, v in changes], "k bigint, val bigint, version int"
    ) if changes else spark.createDataFrame([], "k bigint, val bigint, version int")
    got = {
        (r["k"]): (r["val"], r["version"])
        for r in apply_upserts(bdf, cdf, key="k", version_col="version").collect()
    }
    want = {k: (v, 0) for k, v in base}
    want.update({k: (v, 1) for k, v in changes if k in want or True})
    assert got == want


# --- cross-operator consistency: LSH recall of high-jaccard pairs ----------


def test_minhash_recalls_high_jaccard_pairs(spark, sf_dir):
    """Every pair with exact jaccard >= 0.9 on the fixture corpus must be a
    MinHash candidate at est >= 0.5 (LSH banding guarantee: with 12 hashes
    in 4 bands of 3, P(miss | j=0.9) = (1-0.9³)⁴ ≈ 0.5% per pair; on this
    fixed deterministic corpus the miss set is empty — pinned here as a
    cross-operator regression between the exact and approximate pipelines)."""
    from pyspark.sql import functions as F

    from go_web_mapreduce_spark.operators.dedup import (
        MIN_MATCHING,
        _shingled_docs,
        jaccard_pairs,
        minhash_candidates,
    )

    sh = _shingled_docs(spark, sf_dir)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(sh, threshold=0.9, max_df=10**9).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(sh)
        .filter(F.col("n_matching") >= MIN_MATCHING)
        .collect()
    }
    assert exact, "fixture should contain high-jaccard near-dups"
    assert exact <= cands


# --- hash sampling: deterministic under any partitioning -------------------


@given(ids=st.lists(st.integers(0, 10**6), min_size=1, max_size=30, unique=True))
@SPARK_SETTINGS
def test_mixture_keep_partitioning_invariant(spark, ids):
    """Hash-based sampling keeps exactly the same rows regardless of how the
    input is partitioned — the reproducibility contract rand()-based
    sampling cannot make."""
    from go_web_mapreduce_spark.operators.text_analysis import mixture_keep

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in ids]
    a = spark.createDataFrame(rows, "doc_id bigint, lang string")
    b = spark.createDataFrame(rows, "doc_id bigint, lang string").repartition(7)
    keep = lambda df: {
        r["doc_id"]
        for r in df.select(
            "doc_id", mixture_keep(F.col("lang"), F.col("doc_id")).alias("k")
        ).collect()
        if r["k"] == 1
    }
    assert keep(a) == keep(b)


@given(
    xs=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=6),
    ys=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=6),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_morton_is_bijective_and_monotone_per_axis(spark, xs, ys):
    """The portable Morton SQL must be a bijection of (x, y) — decodable by
    de-interleaving — and monotone along each axis with the other fixed."""
    from go_web_mapreduce_spark.operators.pipeline_ops import _morton16

    pairs = list({(x, y) for x in xs for y in ys})
    sql = ", ".join(
        _morton16(str(x), str(y)) + f" AS z{i}" for i, (x, y) in enumerate(pairs)
    )
    row = spark.sql(f"SELECT {sql}").collect()[0]

    def decode(z: int) -> tuple[int, int]:
        x = y = 0
        for i in range(8):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    for i, (x, y) in enumerate(pairs):
        assert decode(row[f"z{i}"]) == (x, y)


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_hash_bucket_matches_md5_reference(spark, seed):
    """The generated hash-bucket SQL must equal a direct md5-based Python
    computation — pins the instr/substr arithmetic against both engines'
    md5 (which are RFC-identical)."""
    import hashlib

    import duckdb

    from go_web_mapreduce_spark.operators.pipeline_ops import _hash_bucket

    keys = [seed + i for i in range(5)]

    def py_bucket(k: int, mod: int) -> int:
        return int(hashlib.md5(str(k).encode()).hexdigest()[:4], 16) % mod

    s_sql = ", ".join(
        _hash_bucket(str(k), 100, "spark") + f" AS b{i}" for i, k in enumerate(keys)
    )
    srow = spark.sql(f"SELECT {s_sql}").collect()[0]
    d_sql = ", ".join(
        _hash_bucket(str(k), 100, "duck") + f" AS b{i}" for i, k in enumerate(keys)
    )
    drow = duckdb.sql(f"SELECT {d_sql}").fetchone()
    for i, k in enumerate(keys):
        want = py_bucket(k, 100)
        assert srow[f"b{i}"] == want
        assert drow[i] == want


# ---------------------------------------------------------------------------
# portable HLL: the SQL expressions vs a pure-Python bit-level reference
# ---------------------------------------------------------------------------


def _py_hll_bucket_rank(value: str) -> tuple[int, int]:
    """Pure-Python reference: bucket = top 12 bits of md5, rank = 1 +
    leading zeros of the next 40 bits."""
    import hashlib

    h = hashlib.md5(value.encode()).hexdigest()
    bucket = int(h[:3], 16)
    word = int(h[3:13], 16)
    if word == 0:
        return bucket, 41
    # leading zeros of a 40-bit word = 40 - bit_length; rank = lz + 1
    return bucket, 41 - word.bit_length()


@given(st.lists(st.text(min_size=0, max_size=24), min_size=1, max_size=40))
@settings(max_examples=40, deadline=None)
def test_hll_sql_rank_matches_python_bit_reference(values):
    """The trim/length/CASE hex formulation (functions/hll.py) must equal
    the direct bit computation for arbitrary strings — the load-bearing
    cross-engine primitive behind q_approx_distinct / q_sketch_merge.
    Checked through DuckDB (the oracle dialect); the Spark side runs the
    token-identical SQL via F.expr, and engine agreement is separately
    pinned by the hash-verified oracles."""
    import duckdb

    from go_web_mapreduce_spark.functions.hll import (
        hll_bucket_sql_duckdb,
        hll_rank_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    got = con.execute(
        f"SELECT v, {hll_bucket_sql_duckdb('v')} AS b, {hll_rank_sql('v')} AS r FROM t"
    ).fetchall()
    for v, b, r in got:
        eb, er = _py_hll_bucket_rank(v)
        assert (b, r) == (eb, er), (v, b, r, eb, er)


@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=5),
)
@settings(max_examples=15, deadline=None)
def test_hll_merge_identity_and_error_bound(ids, n_parts):
    """Pure-register-algebra property: max-merging per-part register
    tables equals the one-shot registers over the union (exact), and the
    resulting estimate tracks true cardinality within 6 sigma of the
    1.04/sqrt(m) HLL bound (linear counting is tighter, so the bound
    holds across both branches)."""
    from go_web_mapreduce_spark.functions.hll import (
        HLL_LC_TABLE,
        HLL_M,
        HLL_RAW_NUM,
        HLL_SCALE_POW,
    )

    def registers(vals):
        regs: dict[int, int] = {}
        for v in vals:
            b, r = _py_hll_bucket_rank(str(v))
            regs[b] = max(regs.get(b, 0), r)
        return regs

    parts = [[] for _ in range(n_parts)]
    for i, v in enumerate(ids):
        parts[i % n_parts].append(v)
    merged: dict[int, int] = {}
    for p in parts:
        for b, r in registers(p).items():
            merged[b] = max(merged.get(b, 0), r)
    assert merged == registers(ids)  # merge identity, exact

    sp = sum(1 << (HLL_SCALE_POW - m) for m in merged.values())
    v_empty = HLL_M - len(merged)
    s = sp + v_empty * (1 << HLL_SCALE_POW)
    raw = float(HLL_RAW_NUM) / s
    est = (
        HLL_LC_TABLE[v_empty - 1]
        if v_empty > 0 and raw <= 2.5 * HLL_M
        else raw
    )
    true = len(set(ids))
    assert abs(est - true) <= max(6 * 1.04 / (HLL_M ** 0.5) * true, 3.0)


@given(
    w=st.integers(min_value=1, max_value=100_000),
    s=st.integers(min_value=1, max_value=10_000),
    v=st.integers(min_value=0, max_value=300_000),
)
@settings(max_examples=300, deadline=None)
def test_readability_integer_banding_equals_rational_flesch(w, s, v):
    """The integer pair (score_num, score_den) must band EXACTLY like the
    rational Flesch value 206.835 − 1.015·W/S − 84.6·V/W — including on
    exact threshold hits, where a float evaluation could flip."""
    from fractions import Fraction

    from go_web_mapreduce_spark.operators.text_analysis import READ_BANDS

    num = 206_835 * s * w - 1_015 * w * w - 84_600 * v * s
    den = 1_000 * s * w
    flesch = (
        Fraction(206_835, 1_000)
        - Fraction(1_015, 1_000) * Fraction(w, s)
        - Fraction(84_600, 1_000) * Fraction(v, w)
    )
    band_int = next((b for t, b in READ_BANDS if num >= t * den), "very_hard")
    band_frac = next((b for t, b in READ_BANDS if flesch >= t), "very_hard")
    assert band_int == band_frac
    # and the pair really encodes the score: num/den == flesch exactly
    assert Fraction(num, den) == flesch


@given(
    rel=st.lists(st.integers(min_value=-10**9, max_value=10**9),
                 min_size=2, max_size=12),
    sims=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_mmr_integer_lambda_matches_rational_lambda(rel, sims):
    """Greedy MMR with the integer pair (7, 3) must pick the same sequence
    as λ = 0.7 in exact rational arithmetic, whatever the similarity
    structure (ties broken by index in both)."""
    from fractions import Fraction

    n = len(rel)
    sim = [
        [
            sims.draw(st.integers(min_value=-10**9, max_value=10**9))
            if i < j else 0
            for j in range(n)
        ]
        for i in range(n)
    ]

    def s(i, j):
        return sim[min(i, j)][max(i, j)] if i != j else 0

    def greedy(score):
        pool, sel = list(range(n)), []
        ms = {i: None for i in pool}
        for _ in range(min(3, n)):
            best = max(pool, key=lambda i: (score(rel[i], ms[i]), -i))
            sel.append(best)
            pool.remove(best)
            for i in pool:
                v = s(i, best)
                ms[i] = v if ms[i] is None else max(ms[i], v)
        return sel

    int_pick = greedy(lambda r, m: 7 * r - 3 * (m or 0))
    frac_pick = greedy(
        lambda r, m: Fraction(7, 10) * r - Fraction(3, 10) * (m or 0)
    )
    assert int_pick == frac_pick


@given(texts=st.lists(st.tuples(st.sampled_from(["s0", "s1"]), TEXTS), max_size=8))
@SPARK_SETTINGS
def test_token_counts_match_counter(spark, texts):
    """token_counts == collections.Counter over lower-cased, single-space
    split, empty-dropped tokens, unkeyed and keyed; an empty text and an
    only-spaces text are always in the frame and contribute nothing."""
    from collections import Counter

    rows = texts + [("s0", ""), ("s1", "   ")]
    docs = local_frame(spark, rows, "source string, text string")
    toks = [(src, t) for src, text in rows for t in text.lower().split(" ") if t]
    got = {r["word"]: r["n"] for r in token_counts(docs).collect()}
    assert got == Counter(t for _, t in toks)
    got = {(r["source"], r["word"]): r["n"] for r in token_counts(docs, "source").collect()}
    assert got == Counter(toks)
    assert token_counts(docs, "source").dtypes == [
        ("source", "string"), ("word", "string"), ("n", "bigint"),
    ]
