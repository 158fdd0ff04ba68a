"""Structured Streaming wrapper over the events table (beyond-reference,
SURVEY.md §2.2 'Streaming-only operators' note).

The batch queries (queries/relational.py events_*) and these streaming
plans share the same transformation shape — watermark + windowed agg is
the streaming form of the date_trunc groupBy. ``run_stream_once`` uses
availableNow + a memory sink so tests exercise the real micro-batch
engine deterministically (no timers).

At scale: the parquet source becomes Kafka/files-on-arrival; the memory
sink becomes a Delta/parquet sink with checkpointing; the watermark
bounds state for late data.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..engine.session import local_frame

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # raw ns (parquet TIMESTAMP(NANOS))
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# Same shape for TIMESTAMP(MICROS) inputs, where ts is a real timestamp.
_EVENTS_SCHEMA_US = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _sniff_ts_precision(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> str:
    """'ns' or 'us': which parquet timestamp flavor the landing dir holds.

    TIMESTAMP(NANOS) parquet surfaces as bigint (nanosAsLong) and needs a
    ns->us conversion; TIMESTAMP(MICROS) is a timestamp already. Testdata
    has shipped as both across generator versions, so we sniff via a
    driver-side batch schema read. An empty landing directory — the
    normal state of a streaming source at query start — can't be sniffed
    (the batch read raises UNABLE_TO_INFER_SCHEMA); default to 'ns', the
    generator's current flavor, so stream construction still succeeds
    and waits for files. ONLY that error falls back: a transient read
    failure (permissions, corrupt footer) on a dir that actually holds
    microsecond files must surface, not silently mis-build the schema.
    """
    from pyspark.errors import AnalysisException

    try:
        batch_ts = dict(
            spark.read.option("pathGlobFilter", glob).parquet(sf_dir).dtypes
        ).get("ts")
    except AnalysisException as e:
        cond = None
        get_cond = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        if get_cond is not None:
            cond = get_cond()
        if cond == "UNABLE_TO_INFER_SCHEMA" or (
            cond is None and "UNABLE_TO_INFER_SCHEMA" in str(e)
        ):
            return "ns"
        raise
    return "ns" if batch_ts == "bigint" else "us"


def _events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    ts_precision: str | None = None,
) -> DataFrame:
    # The file source needs a directory; select just the events file via
    # glob (in production this is the landing directory of the stream).
    # max_files_per_trigger splits processing into multiple micro-batches
    # (tests use it to exercise cross-batch state merging).
    # ts_precision lets callers that build several streams over the same
    # dir (e.g. the stream-stream join) sniff once and share the answer.
    ns_input = (ts_precision or _sniff_ts_precision(spark, sf_dir, glob)) == "ns"
    schema = EVENTS_SCHEMA if ns_input else _EVENTS_SCHEMA_US
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    if ns_input:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def hourly_counts_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours", **source_opts
) -> DataFrame:
    """Tumbling 1-hour windowed counts with late-data watermark."""
    ev = _events_stream(spark, sf_dir, **source_opts)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("value_millis"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_millis",
        )
    )


def sliding_counts_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours", **source_opts
) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide: each event contributes to
    two overlapping windows (the streaming overlap-window operator)."""
    ev = _events_stream(spark, sf_dir, **source_opts)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n_events"
        )
    )


def sessionless_dedup_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour", **source_opts
) -> DataFrame:
    """Streaming exact-dedup on event_id within the watermark horizon
    (dropDuplicates with state bounded by the watermark)."""
    ev = _events_stream(spark, sf_dir, **source_opts)
    return ev.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def run_stream_once(
    stream_df: DataFrame, name: str = "stream_out", mode: str | None = None
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (Trigger.AvailableNow) into a memory sink; returns the result as a
    batch DataFrame. Deterministic — used by tests and the rows-only
    correctness entries. ``mode`` overrides the inferred output mode
    (e.g. append for multi-batch watermark-eviction tests, where
    complete would lose evicted state)."""
    spark = stream_df.sparkSession
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode or _mode(stream_df))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _mode(df: DataFrame) -> str:
    # Aggregated streams (incl. session windows) use complete — finite
    # availableNow input, and the memory sink replaces its contents per
    # trigger so the final table is the final state; arbitrary-state
    # operators need update; plain streams append. Production sinks use
    # append + watermark instead of complete (complete re-emits all
    # state every trigger — wrong at scale).
    plan = df._jdf.queryExecution().analyzed().toString()
    if "WithState" in plan:
        return "update"
    return "complete" if "Aggregate" in plan else "append"


def session_window_stream(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    **source_opts,
) -> DataFrame:
    """Gap-based session windows (the streaming form of sessionization):
    a session closes when a user is idle for ``gap``; state is bounded
    by the watermark. session_window merges adjacent windows inside the
    micro-batch engine — no per-user global sort anywhere."""
    ev = _events_stream(spark, sf_dir, **source_opts)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias(
                "value_millis"
            ),
        )
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "value_millis",
        )
    )


def error_click_join_stream(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
    **source_opts,
) -> DataFrame:
    """Stream-stream interval join: for each error event, count the same
    user's click events in the preceding ``lookback``. Both sides carry
    watermarks and the join has explicit time bounds, so the engine can
    expire state — the canonical bounded stream-stream join."""
    # Sniff the parquet ts flavor once for both sides of the join.
    source_opts.setdefault(
        "ts_precision",
        _sniff_ts_precision(spark, sf_dir, source_opts.get("glob", "events.parquet")),
    )
    clicks = (
        _events_stream(spark, sf_dir, **source_opts)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", watermark)
    )
    errors = (
        _events_stream(spark, sf_dir, **source_opts)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", watermark)
    )
    # Returns the raw join pairs (append mode): a streaming aggregation
    # stacked on a stream-stream join is a second stateful operator with
    # its own output-mode constraints — callers aggregate the sink.
    return errors.join(
        clicks,
        F.expr(
            f"e_user = c_user AND c_ts >= e_ts - INTERVAL {lookback} "
            "AND c_ts < e_ts"
        ),
    )


# Static event-type dimension for the stream-static enrichment join.
# In production this is a slowly-changing dim table the stream joins
# against; the literal frame keeps the query deterministic.
EVENT_CATEGORY_DIM = (
    ("click", "interaction"),
    ("view", "interaction"),
    ("signup", "account"),
    ("purchase", "transaction"),
    ("error", "fault"),
)


def category_rollup_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours", **source_opts
) -> DataFrame:
    """Stream-static join + windowed rollup: every micro-batch joins the
    event stream against a static dimension frame (broadcast — the
    canonical streaming enrichment; the static side is re-read per
    trigger, so dim updates are picked up), then aggregates hourly per
    category under the watermark.

    LEFT join + 'other' fallback, not inner: an event_type missing from
    the dim must surface as its own rollup bucket, never silently drop
    events (the batch oracle carries the matching CASE ... ELSE
    'other')."""
    dim = local_frame(
        spark,
        list(EVENT_CATEGORY_DIM), "event_type string, category string"
    )
    ev = _events_stream(spark, sf_dir, **source_opts)
    return (
        ev.join(F.broadcast(dim), "event_type", "left")
        .withColumn("category", F.coalesce(F.col("category"), F.lit("other")))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("category"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("value_millis"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "category",
            "n_events",
            "value_millis",
        )
    )


def error_click_left_join_stream(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
    **source_opts,
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every error event emits,
    matched to the same user's clicks in the preceding ``lookback`` —
    or with NULLs once the watermark proves no click can still arrive.
    The outer row is the part the inner join can't express: it is
    produced by STATE EVICTION (the error waits in the join state until
    the joint watermark passes its horizon, then flushes unmatched), so
    this exercises Spark's no-data final micro-batch machinery on top
    of the bounded-state join.

    End-of-stream determinism: the joint watermark is the MIN across
    both sides' watermark operators, and each side's clock only
    advances with ITS OWN max event time — on a sparse error stream
    the last error can sit below the joint watermark forever (its NULL
    row provably unflushed at the end of the availableNow run). The
    error side is therefore cut off at ``min(max error ts, max click
    ts) - (watermark + lookback + 1h margin)`` — computed once,
    driver-side, from a static per-type max (an O(scan) aggregate; at
    production scale, footer stats). The batch oracle applies the same
    cutoff.
    """
    source_opts.setdefault(
        "ts_precision",
        _sniff_ts_precision(spark, sf_dir, source_opts.get("glob", "events.parquet")),
    )
    # Driver-side static cutoff (one max() over the parquet, no stream
    # state involved): errors this old are guaranteed evictable.
    static_max = (
        spark.read.parquet(f"{sf_dir}/{source_opts.get('glob', 'events.parquet')}")
        .filter(F.col("event_type").isin("error", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(F.min("m").alias("m"))
        .collect()[0]["m"]
    )
    clicks = (
        _events_stream(spark, sf_dir, **source_opts)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    errors = (
        _events_stream(spark, sf_dir, **source_opts)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", watermark)
    )
    # The static read yields the file's own flavor: a raw ns long under
    # the nanosAsLong conf, else a datetime. Normalize to epoch seconds.
    if isinstance(static_max, int):
        max_s = static_max // 1_000_000_000
    else:
        import calendar

        max_s = calendar.timegm(static_max.timetuple())
    cutoff_s = max_s - 3 * 3600 - 1800
    errors = errors.filter(
        F.col("e_ts") <= F.timestamp_seconds(F.lit(cutoff_s))
    )
    return errors.join(
        clicks,
        F.expr(
            f"e_user = c_user AND c_ts >= e_ts - INTERVAL {lookback} "
            "AND c_ts < e_ts"
        ),
        "left_outer",
    )
