"""Structured Streaming over the events table.

The reference is strictly batch (an algorithm terminates when its job sets
drain — reference: algorithm/algorithm.go:206-210); streaming is part of the
new engine's extension surface. The same hourly rollup computed by
operators/temporal.py runs here as a real streaming query (file source →
windowed aggregation → memory sink), so batch/stream parity is testable and
the registered query ``q_stream_hourly`` shares the batch oracle.

Every streaming query here runs to completion through ONE drain
(``drain``): state partitions and per-query confs scoped to the query,
every micro-batch the finite source offers processed, and ``stop`` always
— the stream analogue of the reference's job sets draining. Memory-sink
queries go through ``drain_to_memory``, which drops the sink's temp view
before returning, so no run leaves a view in the session catalog; path
sinks and their checkpoints live under ``sources.sinks.scratch_dir``, one
fresh directory per call, freed with the enclosing ``released()`` scope.

Scale notes: at production scale the source becomes Kafka/object-store
listing with ``maxFilesPerTrigger``; the aggregation state is per
(window, event_type) — thousands of groups, bounded by a watermark when run
in append mode. Here (finite input) complete mode + ``drain`` drives the
query to a deterministic final answer synchronously.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.session import scoped_conf
from go_web_mapreduce_spark.sources.sinks import scratch_dir
from go_web_mapreduce_spark.sources.tables import (
    local_frame,
    normalize_events,
    parquet_schema,
)

# State-store partition count for the engine's streaming aggregations. A
# streaming query's shuffle-partition setting is frozen into its checkpoint at
# first start and sizes the state store: one store (files, maintenance thread,
# commit) per partition per stateful operator. The aggregations here key on
# low-cardinality columns (event_type, category, hour×type), so a handful of
# state partitions is the right size — 32+ would mean 32 mostly-empty RocksDB/
# HDFS stores doing per-batch commits. At 100 TB scale this knob is set per
# query to O(distinct keys / target-keys-per-store), not to the batch
# shuffle default. ``drain`` caps it at the cluster's task slots, so each
# stateful micro-batch runs its state stores in one wave of tasks.
STREAM_STATE_PARTITIONS = 8


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream view of the events parquet (schema from the batch
    reader's cached inference, ``parquet_schema`` — inference is illegal on
    streams anyway)."""
    schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    # the file-stream source wants a directory/glob, not a bare file path —
    # a wildcard makes sf_dir the basePath and matches just the events file
    stream = spark.readStream.schema(schema).parquet(f"{sf_dir}/events.parqu*")
    return normalize_events(stream)


def drain(writer: DataStreamWriter, spark: SparkSession, **conf: str) -> None:
    """Run a finite stream to completion: start ``writer``'s query with
    ``STREAM_STATE_PARTITIONS`` state partitions (at most the default
    parallelism) and any extra ``conf`` scoped to it, process every
    available micro-batch, and always stop."""
    parts = min(STREAM_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    with scoped_conf(
        spark,
        **{"spark.sql.shuffle.partitions": str(parts)},
        **conf,
    ):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def drain_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """``drain`` ``df`` in output ``mode`` into a uniquely named memory sink
    and return the sink's final table. The temp view is dropped before
    returning: the returned DataFrame holds the sink's rows itself, so the
    catalog keeps nothing once the caller lets go of the result."""
    spark = df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    drain(df.writeStream.outputMode(mode).format("memory").queryName(name), spark)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def hourly_rollup_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Runs the hourly count/sum rollup as a streaming query to completion
    and returns the final result as a (batch) DataFrame.

    Uses ``window(ts, '1 hour')`` (epoch-aligned → identical buckets to
    ``date_trunc('hour')``), complete output mode, memory sink.
    """
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    return drain_to_memory(agg, "complete").select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "q_stream_hourly",
    # same oracle as the batch q_events_hourly — the streaming plan must land
    # on the identical final answer
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    description="hourly rollup through Structured Streaming (file source → "
    "windowed agg → memory sink), oracle-equal to the batch plan",
)
def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_rollup_stream(spark, sf_dir)


EVENT_CATEGORIES = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "ops"),
]


def categorized_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a static dimension
    (broadcast to every micro-batch — no state, no watermark needed for the
    join itself), then aggregate per category.

    The static side re-resolves per micro-batch, so at scale it can be a
    slowly-changing dimension table; Spark plans the join as a broadcast
    against each batch."""
    dim = F.broadcast(
        local_frame(spark, EVENT_CATEGORIES, "event_type string, category string")
    )
    agg = (
        stream_events(spark, sf_dir)
        .join(dim, "event_type")
        .groupBy("category")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )
    return drain_to_memory(agg, "complete")


@query(
    "q_stream_static_join",
    oracle="""
    WITH dim(event_type, category) AS (
      VALUES ('click','engagement'), ('view','engagement'),
             ('purchase','conversion'), ('signup','conversion'),
             ('error','ops')
    )
    SELECT category, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_value
    FROM events JOIN dim USING (event_type)
    GROUP BY category
    """,
    description="stream-static broadcast join + aggregation through "
    "Structured Streaming, oracle-equal to the batch join",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return categorized_counts_stream(spark, sf_dir)


def deduped_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the event stream is unioned with itself
    (every event arrives twice — the at-least-once delivery a real source
    exhibits), then ``dropDuplicatesWithinWatermark`` on event_id keeps one
    copy. Final counts must equal the single-copy batch counts.

    Scale notes: dedup state is one entry per event_id inside the watermark
    horizon — the watermark BOUNDS the state (an unbounded dropDuplicates
    would grow forever on an infinite stream); expired keys are evicted per
    micro-batch. State is hash-partitioned on event_id like any keyed
    state; the downstream count aggregation re-shuffles to event_type.
    """
    src = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    # simulate at-least-once duplicate delivery. union(src, src) measured
    # FASTER than the one-scan explode(array(1,2)) formulation (4.4s vs
    # 12.4s cold at sf0.1): the explode lands inside the streaming dedup
    # stage and forces it out of the optimized path, while the double scan
    # is cheap columnar IO
    dup = src.union(src)
    agg = (
        dup.dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    return drain_to_memory(agg, "complete")


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
    description="streaming dedup: a twice-delivered stream through "
    "dropDuplicatesWithinWatermark (watermark-bounded keyed dedup state) "
    "lands on the exact single-copy batch counts",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deduped_counts_stream(spark, sf_dir)


def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with native session windows: dynamic
    gap-merged windows maintained in the state store, watermark-bounded.
    On the finite source the final sessions equal the batch
    q_session_window result (shared oracle).

    Scale notes: session state merges adjacent windows per key as events
    arrive; the watermark closes sessions whose gap horizon has passed, so
    state is bounded by ACTIVE sessions, not history. This is the streaming
    shape of the reference-era 'sessionize in reduce' workload.
    """
    agg = (
        stream_events(spark, sf_dir)
        .withColumn("_ts_us", F.expr("ts_ns div 1000"))
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("_ts_us").alias("start_us"),
            F.count("*").alias("n_events"),
            (F.max("_ts_us") - F.min("_ts_us")).alias("span_us"),
        )
    )
    # sink: foreachBatch parquet OVERWRITE, not the memory sink — session
    # cardinality grows with the corpus (users x sessions), and the memory
    # sink collects the whole complete-mode table into the DRIVER (blew
    # spark.driver.maxResultSize at sf10 — SCALE.md). foreachBatch writes
    # each complete snapshot distributed; the last snapshot is the result.
    out_path = scratch_dir("session_stream")

    def sink_batch(batch_df, _batch_id):
        batch_df.write.mode("overwrite").parquet(out_path)

    drain(agg.writeStream.outputMode("complete").foreachBatch(sink_batch), spark)
    return spark.read.schema(agg.schema).parquet(out_path).select(
        "user_id", "start_us", "n_events", "span_us"
    )


@query(
    "q_stream_session_window",
    # identical oracle to the batch q_session_window — streaming must land
    # on the same final sessions
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {30 * 60 * 1_000_000}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, min(us) AS start_us, count(*) AS n_events,
           max(us) - min(us) AS span_us
    FROM sess GROUP BY user_id, sid
    """,
    description="streaming sessionization via native session windows "
    "(state-store-merged dynamic windows), final sessions oracle-equal to "
    "the batch q_session_window",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_stream(spark, sf_dir)


def session_window_append_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Sessionization in APPEND output mode: a session is emitted exactly
    once, when the watermark passes its window end (last event + gap),
    and its state is then evicted — the production mode for unbounded
    streams. State is bounded by ACTIVE sessions inside the watermark
    horizon; each emitted row is written once (foreachBatch parquet
    APPEND), so total sink work is Θ(sessions), where complete mode
    rewrites the cumulative snapshot every micro-batch
    (Θ(batches × sessions) — the measured sf100 superlinearity of
    q_stream_session_window, SCALE_MEASURED_SF100.json round 11).

    On the finite source the emitted set is exactly the merged sessions
    whose end (last event + 30 min gap) ≤ final watermark =
    max(event time) floored to ms − 2 h; the tail sessions inside the
    horizon remain open in state, unemitted — the oracle mirrors that
    boundary to the microsecond, the q_stream_hourly_append pattern.
    """
    agg = (
        stream_events(spark, sf_dir)
        .withColumn("_ts_us", F.expr("ts_ns div 1000"))
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("_ts_us").alias("start_us"),
            F.count("*").alias("n_events"),
            (F.max("_ts_us") - F.min("_ts_us")).alias("span_us"),
        )
    )
    out_path = scratch_dir("session_append")

    def sink_batch(batch_df, _batch_id):
        # append-mode rows are final: write once, never rewritten
        batch_df.write.mode("append").parquet(out_path)

    # RocksDB state store: the HDFS-backed provider loads each partition's
    # whole version map into the JVM heap and raised
    # notEnoughMemoryToLoadStore at sf100 session cardinality (1B events);
    # RocksDB keeps the session state off-heap/on-disk — the standard
    # production setting for large streaming state, and an implementation
    # detail only (values identical; the sf0.001/0.01 oracle hashes pin it)
    drain(
        agg.writeStream.outputMode("append").foreachBatch(sink_batch),
        spark,
        **{
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming."
                "state.RocksDBStateStoreProvider"
        },
    )
    if not os.path.isdir(out_path):  # nothing emitted (all inside horizon)
        return local_frame(
            spark, [], "user_id bigint, start_us bigint, n_events bigint, span_us bigint"
        )
    return spark.read.schema(agg.schema).parquet(out_path).select(
        "user_id", "start_us", "n_events", "span_us"
    )


@query(
    "q_stream_session_append",
    # finalized sessions only: end (last event + 30 min gap) <= watermark
    # = max event time (ms floor) - 2 h; same batch-sessionization CTEs
    # as q_stream_session_window, plus the boundary filter
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {30 * 60 * 1_000_000}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ), s AS (
      SELECT user_id, min(us) AS start_us, count(*) AS n_events,
             max(us) - min(us) AS span_us, max(us) AS last_us
      FROM sess GROUP BY user_id, sid
    ), wm AS (
      SELECT ((epoch_us(max(ts)) // 1000) - 7200000) * 1000 AS wm_us FROM events
    )
    SELECT user_id, start_us, n_events, span_us
    FROM s, wm WHERE last_us + {30 * 60 * 1_000_000} <= wm_us
    """,
    description="append-mode streaming sessionization: sessions emitted "
    "exactly once when the watermark passes their end, state bounded by "
    "ACTIVE sessions — the scale path for q_stream_session_window, whose "
    "complete-mode snapshot rewrites measured superlinear at sf100 "
    "(SCALE_MEASURED_SF100.json round 11); emitted set oracle-matched "
    "to the watermark boundary, the q_stream_hourly_append pattern",
    variant_of="q_stream_session_window",
)
def q_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_append_stream(spark, sf_dir)


def hourly_rollup_append_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """The hourly rollup in APPEND output mode: a window row is emitted
    exactly once, when the watermark passes its end, and its state is then
    evicted. This is the production mode for unbounded streams — state is
    bounded by the watermark horizon, unlike complete mode which retains
    every window forever. On the finite source the emitted set is exactly
    the windows whose end <= max(event time) - watermark delay; the tail
    windows inside the horizon remain open (in state, unemitted) — the
    oracle mirrors that boundary to the microsecond.
    """
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    return drain_to_memory(agg, "append").select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "q_stream_hourly_append",
    # finalized windows only: end <= watermark = max event time - 2h
    # (Spark tracks the watermark in milliseconds, hence the //1000)
    oracle="""
    WITH wm AS (
      SELECT ((epoch_us(max(ts)) // 1000) - 7200000) * 1000 AS wm_us FROM events
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_value
    FROM events, wm
    WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm_us
    GROUP BY 1, 2
    """,
    description="append-mode streaming rollup: windows emitted exactly once "
    "at watermark passage, state evicted — the bounded-state production "
    "mode; emitted set oracle-matched to the watermark boundary",
)
def q_stream_hourly_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_rollup_append_stream(spark, sf_dir)


def purchase_click_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: the purchases stream joined with the
    clicks stream on user within a trailing 1-hour window — the streaming
    attribution pattern.

    Scale notes: BOTH sides are watermarked, and the join condition bounds
    event-time distance, so each side's buffered state is evictable once
    the other side's watermark passes the interval bound — state is
    proportional to one watermark-horizon of traffic, not the stream's
    history. An unbounded-condition stream-stream join would grow state
    forever; the time bound is what makes this production-viable.
    """
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.expr("ts_ns div 1000").alias("p_us"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.expr("ts_ns div 1000").alias("c_us"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("p_id", "c_id", (F.col("p_us") - F.col("c_us")).alias("gap_us"))
    # sink: the native append-mode PARQUET file sink — the production shape
    # for a stream whose output grows with the data. The memory sink
    # accumulates every emitted row in the DRIVER (the q_stream_session_
    # window sf10 failure class); the file sink writes distributed with
    # exactly-once per-batch commits under the checkpoint.
    base = scratch_dir("attrib_stream")
    # INNER stream-stream joins emit each match in the micro-batch that
    # reads it; the trailing no-data batch exists only to advance the
    # watermark and evict state, paying a full state-commit round across
    # every (partition x join-side) store for zero output — measured ~1.7 s
    # of this query's ~4.2 s at sf0.1. Skip it. (Append-mode AGGREGATIONS
    # must keep no-data batches — they finalize windows there.)
    drain(
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt"),
        spark,
        **{"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
    )
    return spark.read.schema(joined.schema).parquet(f"{base}/out")


@query(
    "q_stream_stream_join",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us FROM events
      WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS c_id, user_id, epoch_us(ts) AS c_us FROM events
      WHERE event_type = 'click'
    )
    SELECT p_id, c_id, p_us - c_us AS gap_us
    FROM p JOIN c USING (user_id)
    WHERE c_us >= p_us - 3600000000 AND c_us <= p_us
    """,
    description="stream-stream interval join (attribution: clicks within the "
    "hour before each purchase), both sides watermarked so join state is "
    "evictable — emitted pairs oracle-equal to the batch interval join",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return purchase_click_attribution_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# q_stream_foreachbatch — exactly-once idempotent sink via foreachBatch
# ---------------------------------------------------------------------------


def foreachbatch_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table into a parquet sink through ``foreachBatch``
    with the production exactly-once recipe: each epoch writes to a
    directory keyed by its ``batch_id`` in overwrite mode, so a replayed
    epoch (at-least-once delivery after a failure) lands on the same path
    and leaves ONE copy. To prove the idempotence rather than assume it,
    every epoch is deliberately written TWICE — the result must still
    match the batch oracle exactly.

    At 100 TB the same shape targets a transactional table format or a
    partition-overwrite warehouse dir; `batch_id` is Spark's epoch
    identifier, stable across restarts from the same checkpoint.
    """
    # a fresh nonce dir per call: no stale epochs, and a second result
    # built before the first is read never touches the first's files
    base = scratch_dir("febatch")
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"

    ev = stream_events(spark, sf_dir).select("event_id", "event_type", "value")

    def write_epoch(df: DataFrame, batch_id: int) -> None:
        path = f"{out_dir}/batch_id={batch_id}"
        df.write.mode("overwrite").parquet(path)
        df.write.mode("overwrite").parquet(path)  # simulated epoch replay

    drain(
        ev.writeStream.foreachBatch(write_epoch).option("checkpointLocation", ckpt),
        spark,
    )

    # the stream's schema plus the partition column: no inference job
    back = (
        spark.read.schema(ev.schema.add("batch_id", "integer"))
        .option("basePath", out_dir)
        .parquet(out_dir)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_distinct"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "q_stream_foreachbatch",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
             AS total_value
    FROM events GROUP BY event_type
    """,
    description="exactly-once streaming sink: foreachBatch writes each "
    "epoch to a batch_id-keyed parquet dir in overwrite mode, each epoch "
    "deliberately written TWICE to simulate at-least-once replay — the "
    "read-back per-type counts, distinct ids, and value sums still "
    "hash-match the batch oracle, proving the idempotent-sink recipe "
    "rather than assuming it",
)
def q_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return foreachbatch_idempotent_sink(spark, sf_dir)


# ---------------------------------------------------------------------------
# streaming portable-HLL: approximate distinct users per (hour, type)
# ---------------------------------------------------------------------------


def _stream_hll_oracle() -> str:
    from go_web_mapreduce_spark.functions import hll as _hll

    val = "CAST(user_id AS VARCHAR)"
    return f"""
    WITH regs AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             event_type,
             {_hll.hll_bucket_sql_duckdb(val)} AS bucket,
             max({_hll.hll_rank_sql(val)}) AS M
      FROM events GROUP BY 1, 2, 3
    ), stats AS (
      SELECT hour, event_type,
             sum({_hll.hll_term_sql_duckdb("M")})::BIGINT AS sp, count(*) AS nb
      FROM regs GROUP BY 1, 2
    ), ex AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY 1, 2
    )
    SELECT hour, event_type,
           {_hll.hll_estimate_sql_duckdb("sp", "nb")} AS approx_users,
           exact_users
    FROM stats JOIN ex USING (hour, event_type)
    """


@query(
    "q_stream_hll",
    # the streaming register state must land on the identical estimate the
    # batch portable-HLL computes over the raw table
    oracle=_stream_hll_oracle(),
    description="streaming sketch state: portable-HLL registers of user_id "
    "maintained per (hour window, event_type) by a streaming max-aggregate, "
    "estimates computed at read — approximate distinct users per window, "
    "hash-verified against the batch HLL oracle",
)
def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct counting in a stream is the canonical sketch use case:
    exact count(DISTINCT) needs per-window sets of unbounded size in the
    state store, while an HLL register table keeps <= 4096 integers per
    (window, type) — and max is exactly the streaming-aggregate shape
    (associative, commutative, incremental per micro-batch). The stream
    maintains the REGISTERS (the mergeable state a production pipeline
    would persist); the estimate is a read-time batch step over the sink,
    mirroring q_sketch_merge's persist-states/estimate-at-read pattern.
    Uses the engine-portable HLL (functions/hll.py), so the streaming
    result hash-matches a DuckDB oracle replaying the same math over the
    raw table — the same batch-equivalence discipline as every other
    streaming query here. Watermarked; complete-mode memory sink at test
    scale (window x type x <=4096 rows), RocksDB + append/foreachBatch at
    cluster scale (see q_stream_foreachbatch)."""
    from go_web_mapreduce_spark.functions import hll as _hll

    val = "CAST(user_id AS STRING)"
    ev = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    regs = (
        ev.select(
            "ts",
            "event_type",
            F.conv(F.substring(F.md5(F.expr(val)), 1, 3), 16, 10)
            .cast("int")
            .alias("bucket"),
            F.expr(_hll.hll_rank_sql(val)).alias("rank"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type", "bucket")
        .agg(F.max("rank").alias("M"))
    )
    reg_tbl = drain_to_memory(regs, "complete")
    stats = reg_tbl.groupBy("w", "event_type").agg(
        F.sum(F.expr(_hll.hll_term_sql_spark("M"))).alias("_s"),
        F.count("*").alias("_nb"),
    )
    from go_web_mapreduce_spark.sources.tables import load_table

    # load_table, not a raw read: events.ts has shipped as both
    # TIMESTAMP(NANOS) and NTZ micros across testdata generations and
    # normalize_events is the one place that reconciles them
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    est = stats.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        _hll.hll_estimate_col(F.col("_s"), F.col("_nb")).alias("approx_users"),
    )
    return est.join(
        exact.select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "exact_users",
        ),
        ["hour", "event_type"],
    )


# ---------------------------------------------------------------------------
# q_stream_topk — streaming per-window leaderboard (top users per hour)
# ---------------------------------------------------------------------------

STREAM_TOPK = 3


@query(
    "q_stream_topk",
    oracle=f"""
    WITH hourly AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT hour, user_id, n,
           CAST(row_number() OVER (PARTITION BY hour
                                   ORDER BY n DESC, user_id) AS INT) AS rnk
    FROM hourly
    QUALIFY rnk <= {STREAM_TOPK}
    """,
    description=f"streaming leaderboard: top-{STREAM_TOPK} users per hour "
    "by event count — the live heavy-contributor monitor. The STREAM "
    "maintains the (hour-window, user) count state (the only part that "
    "must be incremental); the rank is a batch view over the sink table, "
    "the standard Structured-Streaming top-k split since window functions "
    "cannot run inside a streaming agg — at scale the sink is a Delta/"
    "parquet table and the leaderboard view ranks only the windows a "
    "micro-batch touched. Oracle-equal to the batch equivalent",
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    agg = (
        stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    wnd = W.partitionBy("hour").orderBy(F.col("n").desc(), "user_id")
    return (
        drain_to_memory(agg, "complete")
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "user_id",
            "n",
        )
        .withColumn("rnk", F.row_number().over(wnd).cast("int"))
        .filter(F.col("rnk") <= STREAM_TOPK)
    )


# ---------------------------------------------------------------------------
# q_stream_sliding — overlapping sliding-window aggregation (every event
# belongs to window_len/slide windows), the one window semantic the hourly
# family's tumbling windows don't exercise
# ---------------------------------------------------------------------------

SLIDE_LEN = "2 hours"
SLIDE_STEP = "1 hour"


@query(
    "q_stream_sliding",
    # epoch-aligned 2h windows sliding by 1h: event at t belongs to the
    # windows starting at floor_hour(t) and floor_hour(t) − 1h — the oracle
    # states that membership directly as a two-way union
    oracle="""
    WITH asg AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
             AS total_value
    FROM asg GROUP BY 1, 2
    """,
    description="sliding-window streaming rollup: 2-hour windows advancing "
    "every hour (each event counted in exactly two overlapping windows) "
    "per event type — the moving-aggregate semantic behind rate alarms "
    "and rolling SLO monitors; tumbling windows can't express it. "
    "Oracle states window membership as a two-way union of shifted "
    "hourly assignments; the stream must land on the identical table",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape: Spark expands each event to its window_len/slide
    memberships BEFORE the stateful agg (an explode in the micro-batch,
    no cross-batch blowup), so state size is windows × types — calendar-
    bounded like the tumbling family, just 2× denser. NOTE on the
    watermark: in ``complete`` output mode Spark retains ALL window
    state regardless of the watermark (eviction only happens in
    append/update modes), so here state grows with the replay's full
    calendar span — acceptable for this bounded-replay harness, whose
    span is a fixed test window. A production deployment of this query
    would run ``update`` mode against an idempotent upsert sink, where
    the same 2-hour watermark genuinely evicts closed windows and state
    is bounded by (open windows × types). State partitions are sized to
    key cardinality per the module's state-store note."""
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", SLIDE_LEN, SLIDE_STEP).alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return drain_to_memory(agg, "complete").select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )
