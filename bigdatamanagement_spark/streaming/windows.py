"""Structured Streaming windows over the events table.

The reference has NO streaming operators (SURVEY §2.10) — these are the
planned extension: the batch time-series idioms (hourly rollup Q-A16,
range-max Q-A17) as streaming plans with watermarked event-time windows.

Scale notes: state is keyed by (window, key) and bounded by the
watermark — late data beyond 1 hour is dropped and closed windows are
evicted. availableNow triggers let the same plans run as incremental
batch backfills; in tests the streams read the testdata parquet and are
checked against the equivalent batch aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet directory."""
    # the file source requires a DIRECTORY; select the events file by glob
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def hourly_max_stream(events: DataFrame) -> DataFrame:
    """Tumbling 1h window: max value per event_type (streaming Q-A17)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.round(F.max("value"), 2).alias("max_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "max_value",
        )
    )


def sliding_avg_stream(events: DataFrame) -> DataFrame:
    """Sliding 1h window every 15min: avg value per event_type."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.round(F.avg("value"), 4).alias("avg_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "avg_value")
    )


def session_window_stream(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user: events separated by < gap fuse into one
    session; emits session span + event count."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_first_per_user_hour_stream(events: DataFrame) -> DataFrame:
    """Streaming first-event-per-(user, hour): watermarked dropDuplicates —
    the streaming analog of the batch row_number dedup (Q-A16/Q-W02).
    'First' is first-arrival within the watermark horizon."""
    return (
        events.withColumn("hour_ts", F.date_trunc("hour", F.col("ts")))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "hour_ts"])
        .select("user_id", "hour_ts", "event_id", "event_type", "value")
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    the (broadcast) static dimension — the standard pattern for attaching
    slowly-changing reference data to an event stream. Broadcasting the
    dim keeps the stream side shuffle-free; Spark re-reads the static side
    per micro-batch, so at scale the dim should be a small/cached table."""
    return events.join(F.broadcast(dim), on)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "30 minutes",
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: right events matching a left
    event on ``key`` within (left.ts <= right.ts <= left.ts + max_delay).

    This is the one Structured Streaming surface with JOIN state on both
    sides: each side buffers rows until the other side's watermark plus
    the interval bound proves no further match can arrive, then evicts —
    so state is bounded by (watermark + max_delay) x per-key arrival
    rate, independent of stream length. Both watermarks are REQUIRED for
    eviction; without them an inner join still runs but buffers forever.
    The time-range predicate must live in the join condition (not a
    post-filter) for Spark to derive the state-cleanup bound.

    Columns come out prefixed l_/r_ (ts and the key stay unprefixed from
    the left) to keep the self-join unambiguous.
    """
    l = left.withWatermark("ts", left_watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (key, "ts")],
    )
    r = right.withWatermark("ts", right_watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key, "ts")],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner")


def run_to_memory(
    spark: SparkSession, stream_df: DataFrame, name: str, output_mode: str | None = None
) -> DataFrame:
    """Drain a stream into an in-memory table with an availableNow
    trigger; returns the result as a batch DataFrame. ``output_mode``
    defaults to complete for aggregates, append otherwise. The sink's view
    is dropped once resolved, or it would pin the rows in the driver for
    the session's life; the returned DataFrame still reads them."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode or ("complete" if _is_agg(stream_df) else "append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def _is_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()


def run_to_parquet(
    stream_df: DataFrame, path: str, checkpoint: str
) -> None:
    """Drain an append-able stream to a parquet directory with an
    availableNow trigger and a checkpoint — the durable, exactly-once
    production sink (memory sinks are test-only). The checkpoint's WAL +
    file-sink manifest make re-runs resume from the last committed
    offset: restarting with the same checkpoint and no new source files
    writes NOTHING, not duplicates. At scale pair this with
    partitionBy() on the writer and a compaction pass (sinks.write_compacted)
    over closed partitions."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_merge_materialized_view(
    spark: SparkSession,
    stream_agg: DataFrame,
    keys: list[str],
    path: str,
    checkpoint: str,
) -> None:
    """Streaming materialized view: drain a watermarked streaming
    aggregate through foreachBatch, MERGE-upserting each micro-batch's
    (possibly re-emitted) group rows into a parquet snapshot.

    This is the continuous-aggregate maintenance pattern (the streaming
    twin of operators/downsample.rollup_cascade): update mode re-emits a
    group whenever new data lands in it, and the foreachBatch MERGE
    (operators/merge.merge_upsert: one left-anti join keyed by the group
    key) replaces the stale snapshot row. Exactly-once comes from the
    checkpoint WAL: a replayed micro-batch re-merges the same rows
    idempotently (upsert of identical keys+values is a no-op on the
    final state).

    At 100 TB: partition the snapshot by a key-aligned column (e.g. the
    window date) and swap the full-snapshot rewrite for dynamic
    partition overwrite so each micro-batch rewrites only the partitions
    its keys touch; the MERGE join broadcasts the micro-batch side
    (bounded by watermark + arrival rate), never the snapshot side.
    """
    from bigdatamanagement_spark.operators.merge import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)  # detach from the stream plan
        try:
            base = spark.read.parquet(path)
            merged = merge_upsert(base, batch_df, keys)
        except Exception:  # first batch: snapshot doesn't exist yet
            merged = batch_df
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    q = (
        stream_agg.writeStream.foreachBatch(apply_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
