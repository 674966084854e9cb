"""Streaming tick -> bar pipeline.

Maps the reference's batch semantics onto Structured Streaming
(SURVEY §2.8):

- file-source ``readStream`` over the landing dir replaces the batch
  S1/S3 scan (`/root/reference/project/ingest_data.py:104-106`,
  ``transform_data.py:36-43``);
- tumbling ``F.window(ts, width)`` builds bars from ticks, generalizing
  the fixed 5-min grid assumed at ``audit_pipeline.py:146,178``;
- ``withWatermark`` bounds state and handles late data — the role the
  reference's UNIQUE(symbol,timestamp) constraint + full overwrite loads
  (``schema.py:42``, ``transform_data.py:207``) play offline;
- ``dropDuplicatesWithinWatermark`` is the stateful dedup (key-only
  subsets still age out of state);
- ``foreachBatch`` writes idempotent partitioned parquet, replacing the
  destructive JDBC overwrite (S5): :func:`batch_id_sink` is the one
  write every foreachBatch stream in the package goes through.

State sizing at scale: the watermark delay bounds the window state to
(symbols x windows-in-delay); with a 10-minute delay on 5-minute bars
that's 3 windows per symbol regardless of throughput.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

TICK_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def read_tick_stream(
    spark,
    landing_dir: str,
    schema: T.StructType = TICK_SCHEMA,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the landing zone (JSONL or parquet).

    An explicit schema is mandatory for streams; PERMISSIVE mode mirrors
    the reference's untrusted-JSON posture (transform_data.py:41).
    """
    reader = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(landing_dir)


def parse_kafka_payload(
    raw: DataFrame, schema: T.StructType = TICK_SCHEMA
) -> DataFrame:
    """Kafka wire format -> typed ticks: the deserialization half of
    :func:`read_kafka_tick_stream`, factored out so it is testable
    WITHOUT a broker — any frame carrying Kafka's ``value`` column
    (binary or string) satisfies the contract, batch or streaming.

    ``from_json`` against the EXPLICIT tick schema is PERMISSIVE:
    malformed payloads and type-mismatched fields surface as nulls (the
    bronze untrusted-JSON posture, transform_data.py:41), never as task
    failures — a poisoned message cannot take down the stream.
    """
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("t")
    ).select("t.*")


def read_kafka_tick_stream(
    spark,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType = TICK_SCHEMA,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka tick source: the at-scale replacement for the landing-dir
    file stream (same downstream contract as ``read_tick_stream``).

    The JSON payload in ``value`` is parsed against the EXPLICIT tick
    schema via :func:`parse_kafka_payload` (PERMISSIVE: malformed rows
    surface as nulls, mirroring the bronze posture — that surface is
    broker-independent and covered by ``tests/test_streaming.py``).
    ``maxOffsetsPerTrigger`` bounds micro-batch size — the backpressure
    knob that keeps state and sink commits sized under burst load.
    Partitioning: one Spark task per Kafka partition; key the producer
    on symbol for per-symbol ordering.

    PERMANENT ENVIRONMENT BLOCK (documented in COVERAGE.md): this
    container ships neither a broker nor the spark-sql-kafka connector
    jar, so even a stub TCP broker cannot exercise ``format("kafka")``
    — ``load()`` fails at source resolution before any network I/O.
    Everything this function adds over the connector is therefore
    either option wiring (asserted by inspection tests) or the payload
    parse (tested without a broker); the connector itself is Spark's.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option(
            "maxOffsetsPerTrigger", str(max_offsets_per_trigger)
        )
    return parse_kafka_payload(reader.load(), schema)


def dedup_stream(
    ticks: DataFrame,
    keys: list[str],
    ts: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stateful dedup within the watermark horizon (late dupes beyond the
    delay age out of state — the streaming UNIQUE constraint).

    ``dropDuplicatesWithinWatermark`` is mandatory here, not plain
    ``dropDuplicates``: with key-only subsets (no event-time column, e.g.
    ``[symbol, event_id]``) the plain variant never evicts its state via
    the watermark, so state grows unboundedly; the WithinWatermark variant
    expires each key once the watermark passes its first-seen event time
    plus the delay."""
    return ticks.withWatermark(ts, watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


def stream_bars(
    ticks: DataFrame,
    key: str = "symbol",
    ts: str = "ts",
    price: str = "price",
    width: str = "5 minutes",
    watermark_delay: str | None = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window OHLCV aggregation.

    Deterministic open/close via min_by/max_by over (ts, event_id) —
    identical semantics to the batch builder (operators/bars.py), so a
    backfill and the live stream produce the same bars.

    ``watermark_delay=None``: reuse the watermark already declared
    upstream — required when chaining stateful operators (e.g. after
    ``dedup_stream``); Spark forbids redefining it.
    """
    order = F.struct(ts, "event_id")
    src = (
        ticks.withWatermark(ts, watermark_delay) if watermark_delay else ticks
    )
    return (
        src
        .groupBy(F.col(key), F.window(ts, width))
        .agg(
            F.min_by(price, order).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, order).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            key,
            F.col("window.start").alias("bar_ts"),
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def batch_id_sink(
    stream: DataFrame,
    fold: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
    partition_cols: Sequence[str] = (),
) -> DataStreamWriter:
    """Idempotent partitioned-parquet sink via foreachBatch.

    Every micro-batch writes ``fold(batch)`` plus a ``batch_id`` column
    under ``(*partition_cols, batch_id)`` with dynamic partition
    overwrite.  ``batch_id`` is the replay-idempotence scope: a replayed
    micro-batch (failure/retry with the same checkpoint) rewrites exactly
    its own ``batch_id`` leaves — exactly-once at the batch level — while
    every other batch's output is untouched.  The scope must be
    batch-granular, not ``partition_cols``-granular: distinct
    micro-batches share partition values (trading dates, for bars), and
    overwriting whole partitions would let every batch wipe what earlier
    batches wrote there (silent data loss in continuous operation or any
    multi-batch availableNow run).  Readers prune on ``partition_cols``
    as before and merge or union the ``batch_id`` leaves.

    Start the returned writer with ``session.start_stream``: the shuffle
    partition count it sets is fixed into a new checkpoint, and a query
    that resumes an existing checkpoint keeps the count recorded there.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            fold(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy(*partition_cols, "batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
    )


def parquet_bar_sink(
    bars: DataFrame, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Bars into the lake under ``(trading_date, symbol, batch_id)``.

    Append mode emits each finalized window exactly once, so distinct
    micro-batches never produce the same (symbol, bar_ts); they do share
    trading dates, which is why the write goes through
    :func:`batch_id_sink`.  Readers prune on ``trading_date`` and
    ``symbol``.
    """
    part_cols = ("trading_date", "symbol")

    def fold(batch_df: DataFrame) -> DataFrame:
        # r15 (guide §6): cluster the batch by its partition columns
        # before the write — without this every one of the frame's
        # shuffle partitions opens a file in every partition leaf it
        # touches (measured at sf0.1: 4,797 files for 38,900 bar rows,
        # and the per-batch addBatch wall is file-commit bound, 42 s for
        # batch 1).  One hash exchange of the batch's bar rows
        # (dimension-sized: bars, not ticks) makes each (trading_date,
        # symbol) leaf exactly one task's output — same rows, same
        # partition values, ~10x fewer files here and file count ~ leaf
        # count at any scale.  Hot leaves stay bounded: a (date, symbol)
        # pair holds at most one bar row per window, so single-task
        # leaves cannot skew.
        return batch_df.withColumn(
            "trading_date", F.to_date("bar_ts")
        ).repartition(*part_cols)

    return batch_id_sink(bars, fold, out_dir, checkpoint_dir, part_cols)


def parquet_append_sink(
    frame: DataFrame, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """Spark's native append parquet sink: its ``_spark_metadata``
    commit log keeps a killed batch's orphan files invisible to readers
    until the replay commits them (exactly-once without ``batch_id``)."""
    return (
        frame.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def stream_stream_attribution(
    views: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    horizon: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: purchases within ``horizon`` after a view
    by the same user (the streaming twin of the batch
    ``range_join_view_purchase`` query).

    Both sides carry watermarks and the join condition bounds event time
    on both sides, so Spark can size the join state: view-side state ages
    out after ``horizon + delay``, purchase-side after ``delay`` — bounded
    regardless of stream length (the unbounded-state trap is exactly what
    the time-range condition avoids).
    """
    v = (
        views.withWatermark(ts, watermark_delay)
        .select(
            F.col(key).alias("v_user"),
            F.col(ts).alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    p = purchases.withWatermark(ts, watermark_delay).select(
        F.col(key).alias("p_user"),
        F.col(ts).alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    return v.join(
        p,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("view_id", "v_user", "v_ts", "p_ts", "p_value")
