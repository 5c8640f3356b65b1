"""Round-5 ADVICE items, each pinned by a test. q_csv_roundtrip pins the
null/empty CSV dialect (ADVICE r4 #1): a corpus containing empty and null
texts must survive the round trip with n_unique/sum_len intact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions.text import tokens


def test_csv_dialect_preserves_empty_and_null(spark, tmp_path):
    """The exact failure ADVICE named: empty-string and null texts must
    survive write→read with the pinned nullValue/emptyValue options (the
    default read maps empty fields to null, merging the two cases)."""
    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, None), (4, 'quo"te')],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "csv")
    (
        df.write.mode("overwrite")
        .options(header=True, quoteAll=True, escape='"', nullValue="\\N")
        .csv(path)
    )
    back = spark.read.options(
        header=True, escape='"', multiLine=True, nullValue="\\N", emptyValue=""
    ).schema("doc_id bigint, text string").csv(path)
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert got == {1: "hello", 2: "", 3: None, 4: 'quo"te'}


# ---------------------------------------------------------------------------
# q_bpe_train: independent pure-Python reference (VERDICT r4 next-steps #4)
# ---------------------------------------------------------------------------


def _reference_bpe(word_freqs: dict[str, int], k: int):
    """Textbook BPE (Sennrich et al. 2016) on a word-frequency table:
    symbol sequences as Python lists, argmax with (count desc, l, r)
    tie-break, left-to-right non-overlapping merge."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for step in range(1, k + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l + r, cnt))
        new_vocab: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_pure_python_reference(spark, sf_dir):
    """Run the Spark loop on the real sf0.001 corpus and the textbook
    algorithm on the identically-tokenized word frequencies; the learned
    merge tables must be identical (cross-engine equality is separately
    covered by the DuckDB oracle — this pins the ALGORITHM, including
    overlap handling like 'aaaa' -> [aa, aa])."""
    from go_web_mapreduce_spark.operators.text_analysis import (
        BPE_TRAIN_STEPS,
        q_bpe_train,
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    freq_rows = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    expect = _reference_bpe(
        {r["w"]: r["count"] for r in freq_rows}, BPE_TRAIN_STEPS
    )
    got = [
        (r["step"], r["pair"], r["cnt"])
        for r in q_bpe_train(spark, sf_dir).orderBy("step").collect()
    ]
    assert got == expect
    assert len(got) == BPE_TRAIN_STEPS


# ---------------------------------------------------------------------------
# AQE skew-join proof next to the manual salt (VERDICT r4 next-steps #5)
# ---------------------------------------------------------------------------


def test_aqe_splits_skewed_join_partition(spark):
    """The same skew fixture class q_salted_join hand-salts: one key owns
    90% of the big side. With broadcast disabled (forcing SMJ — the
    broadcast-ineligible case where salting is normally reached for) and
    test-scaled skew thresholds, AQE must (a) mark the join skew=true,
    (b) split the hot partition into multiple AQEShuffleRead slices, and
    (c) keep the result exactly equal to the unsplit join."""
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB"
        )
        big = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(small, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead reports the split
        # value equivalence with the plain (non-AQE-split) join
        assert len(rows) == 400_000
        # keys are 0 (hot, 90%) plus {9, 19, ..., 99} (id%10==9 -> id%100),
        # 4,000 rows each; w = 2k on the matched small row
        checksum = sum(r["v"] for r in rows) + sum(r["w"] for r in rows)
        assert checksum == sum(range(400_000)) + sum(
            2 * k * 4_000 for k in range(9, 100, 10)
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
