"""Streaming + multimodal driver-contract entries.

The streaming queries drain an availableNow trigger to a memory sink and
return the result as a batch DataFrame — so the tumbling-window rollup
is oracle-checkable (aligned 1h windows ≡ date_trunc batch agg). The
session-window and multimodal entries are rows-only (stateful/binary
semantics have no DuckDB twin).
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bigdatamanagement_spark import streaming as S
from bigdatamanagement_spark.operators import multimodal as M
from bigdatamanagement_spark.session import scoped_shuffle_partitions

_counter = itertools.count()


def _uniq(name: str) -> str:
    return f"{name}_{next(_counter)}"


def _state_partitions(spark: SparkSession):
    """Scope spark.sql.shuffle.partitions for a stateful stream drain to
    min(8, defaultParallelism): one state shard per core, at most 8.

    Stateful streaming cost on small local inputs is dominated by a FIXED
    per-partition-per-microbatch price (state store open/commit/snapshot
    — a stream-stream join pays it twice per partition), not by data:
    the attribution join measured 25s at 64 partitions vs ~3s warm at 8,
    and at local[2] 8 shards take 4 task waves per micro-batch. The count
    is captured in the checkpoint at first start, so this is a
    per-query-start knob that stays OUT of the session defaults."""
    return scoped_shuffle_partitions(spark, min(8, spark.sparkContext.defaultParallelism))


def streaming_hourly_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _state_partitions(spark):
        out = S.run_to_memory(
            spark, S.hourly_max_stream(S.stream_events(spark, sf_dir)), _uniq("hourly_max")
        )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "max_value",
    ).orderBy("window_start", "event_type")


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (10-min gap per user). Deterministic
    given the data — Spark's session_window fuses an event into the open
    session iff ts < previous end (strictly, i.e. gap not yet elapsed)
    and reports end = last_ts + gap, which is exactly batch gap
    sessionization — so this IS oracle-checkable despite being stateful."""
    with _state_partitions(spark):
        out = S.run_to_memory(
            spark,
            S.session_window_stream(S.stream_events(spark, sf_dir)),
            _uniq("sessions"),
        )
    return out.select(
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "user_id",
        "n_events",
    ).orderBy("user_id", "session_start")


def streaming_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): the single-batch
    availableNow drain makes the running state equal the batch aggregate,
    so this is oracle-checkable."""
    from bigdatamanagement_spark.streaming.stateful import running_user_totals

    with _state_partitions(spark):
        out = S.run_to_memory(
            spark,
            running_user_totals(S.stream_events(spark, sf_dir)),
            _uniq("user_totals"),
            "update",
        )
    return out.select(
        "user_id", F.round("total_value", 2).alias("total_value"), "n_events"
    ).orderBy("user_id")


def streaming_click_attribution_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream interval join: the clicks that led to a
    purchase by the same user within 30 minutes — each matching left
    row emitted exactly once, no right columns, no null padding. Same
    two-sided join state and eviction bound as the inner form; the
    matched set is batch-deterministic, so the oracle is a plain
    EXISTS."""
    clicks = (
        S.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id")
    )
    purchases = (
        S.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
    )
    l = clicks.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = purchases.withWatermark("ts", "2 hours").select(
        F.col("user_id").alias("r_key"), F.col("ts").alias("r_ts")
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes"))
    )
    with _state_partitions(spark):
        out = S.run_to_memory(spark, l.join(r, cond, "left_semi"), _uniq("click_semi"))
    return out.select(
        F.col("l_key").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("l_ts").cast("timestamp_ntz").alias("click_ts"),
    ).orderBy("click_id")


def streaming_neardup_flags(
    spark: SparkSession, sf_dir: str, sampled: bool = False
) -> DataFrame:
    """Streaming ingest dedup — the composition a production corpus
    pipeline runs: new documents arrive as a STREAM, and each
    micro-batch is checked against the standing corpus's at-ingest
    MinHash band index via foreachBatch (the Structured Streaming
    pattern for logic richer than single-pass operators: the exact-
    Jaccard verification join-back is a multi-join aggregate no
    streaming operator chain expresses). base×base pairs are never
    enumerated; per-batch cost is batch signatures + one band-keyed
    join. Deterministic (batch logic per micro-batch), so the oracle is
    the batch incremental-dedup SQL. Matched pairs APPEND to a parquet
    sink inside foreachBatch — the driver never accumulates rows, so
    the sink (not driver memory) bounds output at a real ingest
    rate."""
    import pyspark.sql.functions as _F

    from bigdatamanagement_spark.operators.dedup import incremental_minhash_pairs
    from bigdatamanagement_spark.queries.extensions import (
        BATCH_MOD,
        JACCARD_T,
        _docs,
        base_minhash_signatures,
    )

    from bigdatamanagement_spark.queries.pipeline import SAMPLE_PRED

    base = _docs(spark, sf_dir).filter(
        _F.col("doc_id") % BATCH_MOD != BATCH_MOD - 1
    )
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(_F.col("doc_id") % BATCH_MOD == BATCH_MOD - 1)
    )
    if sampled:
        # sf0.1-verifiable twin: the block sample keeps every
        # mod-BATCH_MOD class, so both stream and base sides survive
        base = base.filter(_F.expr(SAMPLE_PRED))
        stream = stream.filter(_F.expr(SAMPLE_PRED))
        base_sigs = None  # memoized sigs cover the FULL base; rebuild
    else:
        base_sigs = base_minhash_signatures(spark, sf_dir)
    from bigdatamanagement_spark.session import scratch_dir

    pair_schema = "new_doc bigint, dup_of bigint, jaccard double"
    # managed scratch (reaped at process exit) — a bare mkdtemp here
    # leaked one parquet dir per invocation across bench/sim passes
    sink_dir = scratch_dir("neardup_pairs_")

    def check_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pairs = incremental_minhash_pairs(
            base, batch_df, "doc_id", "text", threshold=JACCARD_T,
            base_signatures=base_sigs,
        )
        # executor-side write; nothing ever lands on the driver. Each
        # micro-batch OVERWRITES its own batch-id-keyed subdirectory, so
        # a replayed batch (crash after write, before the checkpoint
        # commit) replaces its output instead of appending duplicates —
        # exactly-once end-to-end, pinned by tests/test_streaming_restart.py.
        pairs.write.mode("overwrite").parquet(f"{sink_dir}/b{batch_id}")

    q = (
        stream.writeStream.foreachBatch(check_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema so an all-clean run (empty sink) reads as an
    # empty frame instead of failing schema inference; recursive lookup
    # collects the per-batch subdirectories
    return (
        spark.read.schema(pair_schema)
        .option("recursiveFileLookup", "true")
        .parquet(sink_dir)
        .orderBy("new_doc", "dup_of")
    )


def streaming_dedup_self_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup (dropDuplicatesWithinWatermark) over
    a DELIBERATELY duplicated stream: the file source unioned with
    itself, so every event arrives twice — in different micro-batches
    under maxFilesPerTrigger=1, i.e. real cross-batch key state, not a
    within-batch distinct. Deterministic (duplicate rows are identical,
    so whichever copy wins, the output row is the same) — the oracle is
    simply the unique event set. State is bounded by the watermark
    horizon: keys older than max(ts) - delay are evicted, which is the
    property that makes this run forever at 100 TB/day."""
    dup = S.stream_events(spark, sf_dir).unionAll(
        S.stream_events(spark, sf_dir)
    ).withWatermark("ts", "1 hour")
    deduped = dup.dropDuplicatesWithinWatermark(["event_id"])
    with _state_partitions(spark):
        out = S.run_to_memory(spark, deduped, _uniq("dedup_union"))
    return out.select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
    ).orderBy("event_id")


def streaming_idle_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timer-finalized gap sessions (GroupState + EventTimeTimeout): gap
    closures emit in-batch; idle tails emit when the watermark passes
    their deadline and the group times out. Oracle-checkable: timeout
    fires iff session_end + gap < max(ts) - delay STRICTLY (boundary
    equality does not fire — empirically pinned on a crafted event at
    the exact deadline; see tests/test_stateful.py)."""
    from bigdatamanagement_spark.streaming.stateful import idle_session_finalizer

    with _state_partitions(spark):
        out = S.run_to_memory(
            spark,
            idle_session_finalizer(S.stream_events(spark, sf_dir)),
            _uniq("idle_sessions"),
            "append",
        )
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        "closed_by",
    ).orderBy("user_id", "session_start")


def streaming_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + running aggregate: the events stream enriched
    with the customer dimension (broadcast static side), rolled up by
    market segment and event type. The availableNow drain makes the final
    state equal the batch join+aggregate, so it is oracle-checkable."""
    from bigdatamanagement_spark.catalog import load_testdata

    cust = load_testdata(spark, sf_dir, tables=("customer",), register=False)[
        "customer"
    ].select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    enriched = S.stream_static_enrich(S.stream_events(spark, sf_dir), cust, "user_id")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("sum_value")
    )
    with _state_partitions(spark):
        out = S.run_to_memory(spark, agg, _uniq("segment_rollup"))
    return out.select(
        "c_mktsegment",
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("total_value"),
    ).orderBy("c_mktsegment", "event_type")


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h window every 15min per event_type: each event lands in 4
    overlapping windows. Emits count + exact-rounded sum (ROUND(SUM),
    not AVG — engine-stable); oracle expands the window membership with
    generate_series(0,3) over 15-min slots."""
    ev = S.stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    with _state_partitions(spark):
        out = S.run_to_memory(spark, agg, _uniq("sliding_counts"))
    return out.select(
        F.col("win.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


def streaming_first_per_user_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates over (user, hour). WHICH event
    survives per key depends on intra-batch arrival order (task race), so
    the deterministic — and therefore oracle-checked — projection is the
    surviving KEY SET, which equals DISTINCT (user_id, hour)."""
    dedup = S.dedup_first_per_user_hour_stream(S.stream_events(spark, sf_dir))
    with _state_partitions(spark):
        out = S.run_to_memory(spark, dedup, _uniq("first_per_user_hour"))
    return out.select(
        "user_id", F.col("hour_ts").cast("timestamp_ntz").alias("hour_ts")
    ).orderBy("user_id", "hour_ts")


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join: each purchase attributed
    to the clicks by the same user in the preceding 30 minutes. Two
    independent streaming sources over the same events file (Spark treats
    a self-join of ONE streaming source conservatively; two sources keep
    the state bookkeeping per side). The availableNow drain delivers each
    side in a single micro-batch, so no row is ever beyond the watermark
    and the result equals the batch interval join — oracle-checkable.
    """
    clicks = (
        S.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id")
    )
    purchases = (
        S.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
    )
    joined = S.stream_stream_interval_join(
        clicks, purchases, key="user_id", max_delay="30 minutes"
    )
    with _state_partitions(spark):
        out = S.run_to_memory(spark, joined, _uniq("click_attribution"))
    return out.select(
        F.col("l_key").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        (F.col("r_ts").cast("long") - F.col("l_ts").cast("long")).alias("delay_s"),
        F.round("r_value", 2).alias("purchase_value"),
    ).orderBy("click_id", "purchase_id")


def streaming_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: clicks with their
    attributed purchases, plus null-padded rows for clicks the watermark
    has PROVEN unmatched. The null emission rule is fully deterministic
    and therefore oracle-checkable: Spark's global watermark under the
    default min policy is least(max_left_ts - left_delay,
    max_right_ts - right_delay), and an unmatched left row is emitted
    exactly when l_ts + interval_bound < that watermark (verified
    empirically — the miscounted alternative hypotheses were per-side
    watermarks). Clicks younger than that stay in state, unemitted: at
    a real stream's tail those rows are pending, not dropped.
    """
    clicks = (
        S.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id")
    )
    purchases = (
        S.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
    )
    l = clicks.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = purchases.withWatermark("ts", "2 hours").select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes"))
    )
    with _state_partitions(spark):
        out = S.run_to_memory(spark, l.join(r, cond, "left_outer"), _uniq("click_outer"))
    return out.select(
        F.col("l_key").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.round("r_value", 2).alias("purchase_value"),
    ).orderBy("click_id", "purchase_id")


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.synth_media(spark, 64)
    return M.extract_features(media).orderBy("media_id")


def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real (non-stub) audio DSP over the media table: 16-bit PCM →
    windowed FFT → per-file spectral summary (operators/multimodal.py
    audio_spectral_features). frame_len=64/hop=32 so the synthetic
    payloads (64-144 samples) yield windows — the default 256 skipped
    every file and made the query vacuous (0 rows ≡ 0 rows). Oracle =
    golden parquet from the INDEPENDENT numpy reimplementation
    (tools/gen_multimodal_golden.py); the DSP itself is additionally
    pinned by the pure-sine centroid test."""
    media = M.synth_media(spark, 64)
    return M.audio_spectral_features(media, frame_len=64, hop=32).orderBy(
        "media_id"
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.synth_media(spark, 64)
    return (
        M.sample_frames(media, every_n=4)
        .select("media_id", "frame_index", F.length("frame_payload").alias("frame_bytes"))
        .orderBy("media_id", "frame_index")
    )


def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality corpus manifest over the media table — the metadata
    pass that never touches a codec: file counts, payload bytes,
    DISTINCT payload fingerprints (exact binary dedup), and the typed
    metadata ranges per kind. The payload hash goes through
    md5(hex(payload)) because both engines hash VARCHAR identically
    while their blob-hash signatures differ — the portable-binary-
    fingerprint discipline. ORACLE-CHECKED (unlike the decode-path
    entries): DuckDB reconstructs the deterministic synthetic payloads
    byte-for-byte via repeat(unhex(sha256(...))).

    Scale: metadata-only projection + one kind-keyed aggregate; the
    payload column is touched only for length/fingerprint (no decode,
    no Python)."""
    m = M.synth_media(spark, 64)
    return (
        m.select(
            "kind",
            F.length("payload").cast("long").alias("nb"),
            F.md5(F.hex("payload")).alias("ph"),
            "width",
            "height",
            "sample_rate",
            "n_frames",
        )
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("nb").cast("long").alias("total_bytes"),
            F.countDistinct("ph").cast("long").alias("n_distinct_payloads"),
            F.min("width").cast("long").alias("min_width"),
            F.max("width").cast("long").alias("max_width"),
            F.max("height").cast("long").alias("max_height"),
            F.max("sample_rate").cast("long").alias("max_sample_rate"),
            F.max("n_frames").cast("long").alias("max_n_frames"),
        )
        .orderBy("kind")
    )


QUERIES = {
    "ext_streaming_hourly_max": streaming_hourly_max,
    "ext_streaming_session_windows": streaming_session_windows,
    "ext_streaming_running_user_totals": streaming_running_user_totals,
    "ext_streaming_idle_sessions": streaming_idle_sessions,
    "ext_streaming_dedup_self_union": streaming_dedup_self_union,
    "ext_streaming_click_attribution_semi": streaming_click_attribution_semi,
    "ext_streaming_neardup_flags": streaming_neardup_flags,
    "ext_streaming_segment_rollup": streaming_segment_rollup,
    "ext_streaming_click_attribution": streaming_click_attribution,
    "ext_streaming_click_attribution_outer": streaming_click_attribution_outer,
    "ext_streaming_sliding_counts": streaming_sliding_counts,
    "ext_streaming_first_per_user_hour": streaming_first_per_user_hour,
    "ext_multimodal_features": multimodal_features,
    "ext_multimodal_frame_sample": multimodal_frame_sample,
    "ext_multimodal_audio_spectral": multimodal_audio_spectral,
    "ext_multimodal_manifest": multimodal_manifest,
}

from bigdatamanagement_spark.queries.extensions import ORACLE as _EXT_ORACLE

ORACLE = {
    # the streaming foreachBatch ingest-dedup runs the same batch logic
    # per micro-batch, so it shares the batch incremental-dedup oracle
    "ext_streaming_neardup_flags": _EXT_ORACLE["ext_incremental_neardup"],
    # Golden oracles for the three decode paths (round-4 item 6): the
    # media table is deterministic (seeded sha256 payloads), so the
    # expected outputs are constants; the goldens are produced by an
    # INDEPENDENT numpy reimplementation (tools/gen_multimodal_golden.py,
    # committed parquet under fixtures/golden/) — a dual implementation
    # that catches plumbing regressions in the mapInPandas paths.
    "ext_multimodal_features": """
        SELECT media_id, kind, feature, n_bytes
        FROM read_parquet('/root/repo/fixtures/golden/multimodal_features.parquet')
        ORDER BY media_id
    """,
    "ext_multimodal_frame_sample": """
        SELECT media_id, frame_index, frame_bytes
        FROM read_parquet('/root/repo/fixtures/golden/multimodal_frames.parquet')
        ORDER BY media_id, frame_index
    """,
    "ext_multimodal_audio_spectral": """
        SELECT media_id, n_windows, rms_mean, zcr_mean, centroid_hz_mean
        FROM read_parquet('/root/repo/fixtures/golden/multimodal_audio.parquet')
        ORDER BY media_id
    """,
    # DuckDB reconstructs the deterministic synthetic media payloads
    # byte-for-byte (sha256 of 'media-i', repeated 4 + i%5 times) and
    # mirrors the metadata CASE logic of operators/multimodal.synth_media
    "ext_multimodal_manifest": """
        WITH m AS (
            SELECT i,
                   CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   repeat(unhex(sha256('media-' || i)), 4 + i % 5) AS payload,
                   CASE WHEN i % 3 = 1 THEN NULL
                        ELSE 64 + i % 32 END AS width,
                   CASE WHEN i % 3 = 1 THEN NULL
                        ELSE 48 + i % 16 END AS height,
                   CASE WHEN i % 3 = 1 THEN 16000 ELSE NULL END AS sample_rate,
                   CASE WHEN i % 3 = 0 THEN NULL
                        ELSE (i % 7 + 1) * 8 END AS n_frames
            FROM generate_series(0, 63) t(i)
        )
        SELECT kind,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
               CAST(COUNT(DISTINCT md5(hex(payload))) AS BIGINT)
                   AS n_distinct_payloads,
               CAST(MIN(width) AS BIGINT) AS min_width,
               CAST(MAX(width) AS BIGINT) AS max_width,
               CAST(MAX(height) AS BIGINT) AS max_height,
               CAST(MAX(sample_rate) AS BIGINT) AS max_sample_rate,
               CAST(MAX(n_frames) AS BIGINT) AS max_n_frames
        FROM m GROUP BY kind ORDER BY kind
    """,
    "ext_streaming_dedup_self_union": """
        SELECT event_id, ts, user_id, event_type, ROUND(value, 2) AS value
        FROM events ORDER BY event_id
    """,
    "ext_streaming_click_attribution_semi": """
        SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
        FROM events c
        WHERE c.event_type = 'click' AND EXISTS (
            SELECT 1 FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
        ORDER BY click_id
    """,
    "ext_streaming_idle_sessions": """
        WITH s AS (
          SELECT user_id, ts, value,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           >= 600 * 1000000 THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ),
        numbered AS (
          SELECT user_id, ts, value,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                                   ROWS UNBOUNDED PRECEDING) AS seq
          FROM s
        ),
        agg AS (
          SELECT user_id, seq, MIN(ts) AS session_start, MAX(ts) AS session_end,
                 COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
          FROM numbered GROUP BY user_id, seq
        ),
        -- watermark and timer deadlines are MILLISECOND-granular in
        -- Spark (micros truncate): wm_ms > deadline_ms, strictly
        wm AS (SELECT epoch_us(MAX(ts)) // 1000 - 1800000 AS w_ms FROM events),
        last_sess AS (SELECT user_id, MAX(seq) AS mseq FROM agg GROUP BY user_id)
        SELECT a.user_id, a.session_start, a.session_end, a.n_events,
               a.total_value,
               CASE WHEN a.seq = l.mseq THEN 'timer' ELSE 'gap' END AS closed_by
        FROM agg a JOIN last_sess l USING (user_id), wm
        WHERE a.seq < l.mseq
           OR (epoch_us(a.session_end) + 600000000) // 1000 < wm.w_ms
        ORDER BY a.user_id, a.session_start
    """,
    "ext_streaming_running_user_totals": """
        SELECT user_id, ROUND(SUM(value), 2) AS total_value,
               COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    "ext_streaming_segment_rollup": """
        SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n_events,
               ROUND(SUM(e.value), 2) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "ext_streaming_click_attribution_outer": """
        WITH wm AS (
          SELECT least(max(ts) FILTER (event_type = 'click') - INTERVAL 1 HOUR,
                       max(ts) FILTER (event_type = 'purchase') - INTERVAL 2 HOUR)
                 AS watermark
          FROM events
        ),
        matched AS (
          SELECT c.user_id, c.event_id AS click_id,
                 p.event_id AS purchase_id,
                 ROUND(p.value, 2) AS purchase_value
          FROM events c
          JOIN events p
            ON c.user_id = p.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        ),
        expired_unmatched AS (
          SELECT c.user_id, c.event_id AS click_id,
                 CAST(NULL AS BIGINT) AS purchase_id,
                 CAST(NULL AS DOUBLE) AS purchase_value
          FROM events c, wm
          WHERE c.event_type = 'click'
            AND NOT EXISTS (
              SELECT 1 FROM events p
              WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
            AND c.ts + INTERVAL 30 MINUTE < wm.watermark
        )
        SELECT * FROM matched
        UNION ALL
        SELECT * FROM expired_unmatched
        ORDER BY click_id, purchase_id
    """,
    "ext_streaming_session_windows": """
        WITH s AS (
          SELECT user_id, ts,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           >= 600 * 1000000 THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                                   ROWS UNBOUNDED PRECEDING) AS seq
          FROM s
        )
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 10 MINUTE AS session_end,
               user_id,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, seq
        ORDER BY user_id, session_start
    """,
    "ext_streaming_sliding_counts": """
        SELECT to_timestamp(CAST(floor(epoch(ts) / 900) * 900 - k.k * 900 AS BIGINT))::TIMESTAMP AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events, UNNEST(generate_series(0, 3)) AS k(k)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "ext_streaming_first_per_user_hour": """
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour_ts
        FROM events
        ORDER BY user_id, hour_ts
    """,
    "ext_streaming_click_attribution": """
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               date_diff('second', c.ts, p.ts) AS delay_s,
               ROUND(p.value, 2) AS purchase_value
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        ORDER BY click_id, purchase_id
    """,
    "ext_streaming_hourly_max": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               ROUND(MAX(value), 2) AS max_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
}
