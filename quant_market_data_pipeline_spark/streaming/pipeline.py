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

Every bounded run in the package goes through the same two helpers:
:func:`drain` (availableNow, then wait) and :func:`kill_and_resume` (the
mid-flight kill and checkpoint restart the crash gates run).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from quant_market_data_pipeline_spark.session import start_stream
from quant_market_data_pipeline_spark.streaming.bars_stream import (
    dedup_stream,
    parquet_bar_sink,
    read_tick_stream,
    stream_bars,
)


def live_bars_writer(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    fmt: str = "parquet",
    width: str = "5 minutes",
    watermark_delay: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataStreamWriter:
    """Wire the full chain into an unstarted writer (see
    :func:`run_live_bars` for the arguments)."""
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
    return parquet_bar_sink(bars, out_dir, checkpoint_dir)


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
    writer = live_bars_writer(
        spark, landing_dir, out_dir, checkpoint_dir, schema, fmt, width,
        watermark_delay, max_files_per_trigger,
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return start_stream(spark, writer)


def drain(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` under ``availableNow`` and wait until the landing
    contents are drained."""
    query = start_stream(spark, writer.trigger(availableNow=True))
    query.awaitTermination()
    return query


def data_batches(query: StreamingQuery) -> int:
    """Micro-batches of ``query`` that carried input rows (the closing
    no-data batch of an availableNow drain does not count)."""
    return sum(
        1 for p in query.recentProgress if p.get("numInputRows", 0) > 0
    )


def kill_and_resume(
    spark: SparkSession, make_writer: Callable[[], DataStreamWriter]
) -> dict[str, int]:
    """Crash recovery in two phases over one checkpoint.

    Phase 1 starts ``make_writer()`` continuously (default trigger),
    polls until 2 data-carrying micro-batches have committed (or 180 s
    have passed), then ``stop()``s it at once — a genuine mid-flight
    interrupt at a nondeterministic point (whatever batch is in progress
    is cut; its replay is the recovery under test).  Phase 2 drains a
    fresh ``make_writer()`` from the same checkpoint.  Exactly-once makes
    the final output independent of where the kill landed.  Returns the
    data-batch counts of both phases.
    """
    q1 = start_stream(spark, make_writer())
    deadline = time.time() + 180
    phase1 = data_batches(q1)
    while phase1 < 2 and time.time() < deadline:
        time.sleep(0.03)
        phase1 = data_batches(q1)
    q1.stop()
    q1.awaitTermination()
    q2 = drain(spark, make_writer())
    return {"phase1_batches": phase1, "phase2_batches": data_batches(q2)}
