"""Streaming ≡ batch equivalence tests (availableNow drain to memory)."""

import pyspark.sql.functions as F
import pytest

from bigdatamanagement_spark import streaming as S


@pytest.fixture()
def batch_events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_hourly_max_stream_matches_batch(spark, sf_dir, batch_events):
    got = S.run_to_memory(
        spark, S.hourly_max_stream(S.stream_events(spark, sf_dir)), "hourly_max"
    )
    want = (
        batch_events.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(F.round(F.max("value"), 2).alias("max_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "max_value")
    )
    g = {(r.window_start, r.event_type): r.max_value for r in got.collect()}
    w = {(r.window_start, r.event_type): r.max_value for r in want.collect()}
    assert g == w and len(g) > 0


def test_sliding_avg_stream_matches_batch(spark, sf_dir, batch_events):
    got = S.run_to_memory(
        spark, S.sliding_avg_stream(S.stream_events(spark, sf_dir)), "sliding_avg"
    )
    want = (
        batch_events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(F.round(F.avg("value"), 4).alias("avg_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "avg_value")
    )
    assert got.count() == want.count() > 0


def test_session_window_stream_runs(spark, sf_dir):
    got = S.run_to_memory(
        spark, S.session_window_stream(S.stream_events(spark, sf_dir)), "sessions"
    )
    rows = got.collect()
    assert rows
    assert all(r.session_end > r.session_start for r in rows)
    assert all(r.n_events >= 1 for r in rows)


def test_stream_static_enrich_matches_batch(spark, sf_dir, batch_events):
    """Stream-static join + rollup must equal the batch join + aggregate
    (availableNow drain ≡ one batch)."""
    from bigdatamanagement_spark.queries.streaming_pack import streaming_segment_rollup
    from bigdatamanagement_spark.catalog import load_testdata

    got = [tuple(r) for r in streaming_segment_rollup(spark, sf_dir).collect()]
    cust = load_testdata(spark, sf_dir, tables=("customer",), register=False)[
        "customer"
    ].select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    want = [
        tuple(r)
        for r in (
            batch_events.join(cust, "user_id")
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .orderBy("c_mktsegment", "event_type")
        ).collect()
    ]
    assert got == want and got


def test_parquet_sink_exactly_once_on_restart(spark, sf_dir, tmp_path):
    """The checkpointed file sink must be exactly-once across restarts:
    draining twice with the same checkpoint writes the source once."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src = S.stream_events(spark, sf_dir).select("event_id", "ts", "value")
    S.run_to_parquet(src, out, ckpt)
    n_source = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    first = spark.read.parquet(out)
    assert first.count() == n_source
    # restart with the same checkpoint: no new input -> no new rows
    S.run_to_parquet(
        S.stream_events(spark, sf_dir).select("event_id", "ts", "value"), out, ckpt
    )
    again = spark.read.parquet(out)
    assert again.count() == n_source
    assert again.select("event_id").distinct().count() == n_source


def test_stream_stream_attribution_matches_batch(spark, duck, sf_dir):
    """Stream-stream watermarked interval join ≡ batch interval join when
    drained availableNow (single micro-batch per side → nothing is ever
    late relative to the watermark)."""
    from bigdatamanagement_spark.queries.streaming_pack import (
        ORACLE,
        streaming_click_attribution,
    )
    from tests.conftest import assert_matches_oracle

    df = streaming_click_attribution(spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLE["ext_streaming_click_attribution"])


def test_streaming_pack_oracles(spark, duck, sf_dir):
    """Every oracle-declared streaming entry matches DuckDB (availableNow
    drain ≡ batch)."""
    from bigdatamanagement_spark.queries import streaming_pack as SP
    from tests.conftest import assert_matches_oracle

    for name in (
        "ext_streaming_sliding_counts",
        "ext_streaming_first_per_user_hour",
        "ext_streaming_click_attribution_outer",
        "ext_streaming_dedup_self_union",
        "ext_multimodal_manifest",
    ):
        assert_matches_oracle(SP.QUERIES[name](spark, sf_dir), duck, SP.ORACLE[name])


def test_merge_materialized_view_replaces_stale_rows(spark, sf_dir, tmp_path):
    """foreachBatch MERGE view: pre-seed the snapshot with stale (zeroed)
    rows for some keys, drain the streaming hourly aggregate into it, and
    the final snapshot must equal the batch aggregate — stale rows
    replaced, new keys inserted."""
    import pyspark.sql.functions as F

    from bigdatamanagement_spark.catalog import load_testdata

    ev = load_testdata(spark, sf_dir, tables=("events",), register=False)["events"]
    batch = (
        ev.groupBy(
            F.date_trunc("hour", "ts").cast("timestamp").alias("hour_ts"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    want = sorted(map(tuple, batch.collect()))

    path = str(tmp_path / "mv")
    stale = batch.filter(F.col("event_type") == "click").withColumn(
        "n", F.lit(0).cast("long")
    ).withColumn("total", F.lit(0.0))
    stale.write.parquet(path)

    stream_agg = (
        S.stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.date_trunc("hour", "ts").cast("timestamp").alias("hour_ts"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    S.run_merge_materialized_view(
        spark, stream_agg, ["hour_ts", "event_type"], path, str(tmp_path / "ckpt")
    )
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == want


def test_merge_materialized_view_bootstrap(spark, sf_dir, tmp_path):
    """First drain with no pre-existing snapshot just writes the aggregate."""
    import pyspark.sql.functions as F

    stream_agg = (
        S.stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    path = str(tmp_path / "mv2")
    S.run_merge_materialized_view(spark, stream_agg, ["event_type"], path, str(tmp_path / "c2"))
    assert spark.read.parquet(path).count() == 5


def test_state_shards_follow_cores(spark, sf_dir):
    """A stateful drain runs min(8, defaultParallelism) state shards, read
    from its own progress events, and leaves no memory-sink view behind."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from bigdatamanagement_spark.queries.streaming_pack import streaming_dedup_self_union

    shards = []

    class Shards(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            shards.extend(op.numShufflePartitions for op in event.progress.stateOperators)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Shards()
    spark.streams.addListener(listener)
    try:
        streaming_dedup_self_union(spark, sf_dir)
        deadline = time.time() + 30  # the listener bus delivers asynchronously
        while not shards and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert shards and set(shards) == {min(8, spark.sparkContext.defaultParallelism)}
    assert not [t for t in spark.catalog.listTables() if t.name.startswith("dedup_union")]
