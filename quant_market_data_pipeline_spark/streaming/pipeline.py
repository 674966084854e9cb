"""End-to-end live pipeline: landing zone -> dedup -> bars -> lake.

The streaming twin of the reference's daily batch DAG
(``/root/reference/dags/quant_pipeline_dag.py:31-66``: ingest -> transform
-> validate): a file-source stream over the landing directory replaces the
cron-triggered re-scan, the watermark + stateful dedup replaces the
UNIQUE-constraint-plus-overwrite dance, and the foreachBatch partitioned
parquet sink replaces the destructive JDBC full refresh.  A backfill run
of the batch operators over the same landing files produces byte-identical
bars (tested) — the lambda-architecture equivalence that makes the stream
trustworthy.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from quant_market_data_pipeline_spark.session import start_stream
from quant_market_data_pipeline_spark.streaming.bars_stream import (
    dedup_stream,
    parquet_bar_sink,
    read_tick_stream,
    stream_bars,
)


def run_live_bars(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    fmt: str = "parquet",
    width: str = "5 minutes",
    watermark_delay: str = "10 minutes",
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Wire the full chain and start it.

    ``available_now=True`` drains the current landing contents and stops —
    the backfill/verification mode; ``False`` runs continuously.
    ``max_files_per_trigger`` splits the drain into multiple micro-batches
    (smaller state high-water marks; also how the multi-batch no-loss
    property of the sink is exercised in tests).

    The query starts through ``session.start_stream``: a new checkpoint
    fixes one shuffle partition (one state store per stateful operator)
    per core, and a run that resumes an existing ``checkpoint_dir`` keeps
    the count recorded in it.
    """
    ticks = read_tick_stream(
        spark,
        landing_dir,
        schema=schema,
        fmt=fmt,
        max_files_per_trigger=max_files_per_trigger,
    )
    clean = dedup_stream(
        ticks, keys=["symbol", "event_id"], watermark_delay=watermark_delay
    )
    # watermark already declared by the dedup stage; chained stateful
    # operators must not redefine it
    bars = stream_bars(clean, width=width, watermark_delay=None)
    writer = parquet_bar_sink(bars, out_dir, checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return start_stream(spark, writer)
