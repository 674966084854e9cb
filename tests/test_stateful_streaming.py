"""applyInPandasWithState sessionizer == batch session_window (parity).

Sentinel ticks one day after each user's last event force every real
session closed via in-batch gap detection, so the parity check does not
depend on timeout scheduling; the sentinels' own (still-open) sessions
are excluded from the comparison.
"""

from __future__ import annotations

import tempfile

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quant_market_data_pipeline_spark.session import start_stream
from quant_market_data_pipeline_spark.streaming.bars_stream import (
    read_tick_stream,
)
from quant_market_data_pipeline_spark.streaming.stateful import (
    sessionize_with_state,
)

TICK_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_stateful_sessions_match_batch(spark, events):
    sub = events.filter(F.col("user_id") < 20).select("ts", "user_id", "value")
    sentinels = (
        sub.groupBy("user_id")
        .agg(F.max("ts").alias("mx"))
        .select(
            (F.col("mx") + F.expr("INTERVAL 1 DAY")).alias("ts"),
            "user_id",
            F.lit(0.0).alias("value"),
        )
    )
    corpus = sub.unionByName(sentinels)

    with tempfile.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        # parquet landing: Spark's JSON writer serializes timestamps at
        # millisecond precision, which would desync stream vs batch input
        corpus.coalesce(2).write.mode("overwrite").parquet(landing)

        stream = read_tick_stream(spark, landing, schema=TICK_SCHEMA, fmt="parquet")
        sessions = sessionize_with_state(stream, gap="30 minutes")
        q = start_stream(
            spark,
            sessions.writeStream.format("memory")
            .queryName("stateful_sessions")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True),
        )
        q.awaitTermination(180)
        sentinel_keys = {
            (r["user_id"], r["ts"]) for r in sentinels.collect()
        }
        got_all = spark.sql("SELECT * FROM stateful_sessions").toPandas()
        # Sentinel-only sessions MAY flush via event-time timeout (when the
        # final watermark passes their gap horizon) — that's correct
        # operator behavior; exclude them from the parity set.
        is_sentinel = [
            (u, s.to_pydatetime()) in sentinel_keys
            for u, s in zip(got_all["user_id"], got_all["session_start"])
        ]
        got = (
            got_all[[not s for s in is_sentinel]]
            .sort_values(["user_id", "session_start"])
            .reset_index(drop=True)
        )

    want = (
        sub.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("session_window")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    # Sessions NOT emitted by the stream: exactly one open sentinel session
    # per user; sentinel sessions contain only the sentinel tick, so every
    # REAL session must match the batch twin exactly.
    assert len(got) == len(want), (len(got), len(want))
    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)


def test_streaming_zscore_matches_batch_window(spark, events):
    """rolling_zscore_stream == the batch W1-W5 rolling z-score on the
    same per-pair spread series (multi-batch stream to exercise state
    carry-over)."""
    import numpy as np
    from pyspark.sql import Window

    from quant_market_data_pipeline_spark.plans.flagship import pair_zscore
    from quant_market_data_pipeline_spark.streaming.stateful import (
        rolling_zscore_stream,
    )

    # Batch truth: the flagship pair spread + z-score, leg 1 only.
    batch = (
        pair_zscore(events, [("click", "view")], width="1 hour")
        .filter(F.col("symbol") == "click")
        .select("pair_name", "timestamp", "spread", "z_score")
    )
    spreads = batch.select("pair_name", "timestamp", "spread")

    with tempfile.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        # multiple files -> multiple micro-batches (maxFilesPerTrigger=1):
        # state must carry the trailing window across batches.  Files are
        # time-split so later batches hold later bars (in-order arrival).
        s = spreads.withColumn(
            "part", (F.dayofmonth("timestamp") <= 15).cast("int")
        )
        s.repartition("part").write.mode("overwrite").parquet(landing)

        schema = T.StructType(
            [
                T.StructField("pair_name", T.StringType()),
                T.StructField("timestamp", T.TimestampType()),
                T.StructField("spread", T.DoubleType()),
                T.StructField("part", T.IntegerType()),
            ]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        scored = rolling_zscore_stream(stream.drop("part"))
        q = start_stream(
            spark,
            scored.writeStream.format("memory")
            .queryName("zscore_stream")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True),
        )
        q.awaitTermination(180)
        got = (
            spark.sql("SELECT * FROM zscore_stream")
            .toPandas()
            .sort_values("timestamp")
            .reset_index(drop=True)
        )

    want = batch.toPandas().sort_values("timestamp").reset_index(drop=True)
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["z_score"].to_numpy(dtype=float),
        want["z_score"].to_numpy(dtype=float),
        rtol=1e-9,
        equal_nan=True,
    )


def test_streaming_wilder_rsi_matches_pandas_recursion(spark, events):
    """wilder_rsi_stream == a pandas recompute of the textbook Wilder
    recursion on the same bar series (multi-batch to exercise the O(1)
    state carry-over across micro-batches)."""
    from quant_market_data_pipeline_spark.operators.bars import build_bars
    from quant_market_data_pipeline_spark.streaming.stateful import (
        wilder_rsi_stream,
    )

    bars = build_bars(
        events,
        key="event_type",
        ts="ts",
        price="value",
        width="1 hour",
        tiebreak="event_id",
    ).select(
        F.col("event_type").alias("symbol"), "bar_ts", "close"
    )

    with tempfile.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        b = bars.withColumn(
            "part", (F.dayofmonth("bar_ts") <= 15).cast("int")
        )
        b.repartition("part").write.mode("overwrite").parquet(landing)

        schema = T.StructType(
            [
                T.StructField("symbol", T.StringType()),
                T.StructField("bar_ts", T.TimestampType()),
                T.StructField("close", T.DoubleType()),
                T.StructField("part", T.IntegerType()),
            ]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        scored = wilder_rsi_stream(stream.drop("part"))
        q = start_stream(
            spark,
            scored.writeStream.format("memory")
            .queryName("rsi_stream")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True),
        )
        q.awaitTermination(180)
        got = (
            spark.sql("SELECT * FROM rsi_stream")
            .toPandas()
            .sort_values(["symbol", "bar_ts"])
            .reset_index(drop=True)
        )

    pdf = bars.toPandas().sort_values(["symbol", "bar_ts"])
    period = 14
    n_with_rsi = 0
    for sym, g in pdf.groupby("symbol"):
        closes = list(g["close"])
        ts_list = list(g["bar_ts"])
        sub = got[got["symbol"] == sym].set_index("bar_ts")
        avg_g = avg_l = 0.0
        n = 0
        for i in range(1, len(closes)):
            diff = closes[i] - closes[i - 1]
            gain, loss = max(diff, 0.0), max(-diff, 0.0)
            if n < period:
                avg_g, avg_l, n = avg_g + gain, avg_l + loss, n + 1
                if n == period:
                    avg_g, avg_l = avg_g / period, avg_l / period
                expect = (
                    None
                    if n < period
                    else (
                        100.0
                        if avg_l == 0
                        else 100.0 - 100.0 / (1.0 + avg_g / avg_l)
                    )
                )
            else:
                avg_g = (avg_g * (period - 1) + gain) / period
                avg_l = (avg_l * (period - 1) + loss) / period
                expect = (
                    100.0
                    if avg_l == 0
                    else 100.0 - 100.0 / (1.0 + avg_g / avg_l)
                )
            rsi = sub.loc[ts_list[i], "rsi"]
            if expect is None:
                assert pd.isna(rsi)
            else:
                assert abs(rsi - expect) < 1e-9
                n_with_rsi += 1
    assert n_with_rsi > 100


def test_zscore_crash_recovery_state_reloads(spark):
    """Kill the applyInPandasWithState z-score stream mid-flight, restart
    from the checkpoint, drain: output must equal the batch trailing-
    window twin exactly.  The ring buffer spans the kill point, so any
    state-store loss/duplication on restart shifts downstream means and
    fails the comparison."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from quant_market_data_pipeline_spark.operators.bars import build_bars
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _run_zscore_crash_recovery,
    )
    from quant_market_data_pipeline_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    got_df, stats = _run_zscore_crash_recovery(spark, sf_dir)
    assert stats["phase1_batches"] >= 2, stats

    bars = build_bars(
        load_table(spark, "events", sf_dir),
        key="event_type",
        ts="ts",
        price="value",
        width="5 minutes",
        tiebreak="event_id",
    ).select(F.col("event_type").alias("symbol"), "bar_ts", "close")
    win = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(-59, 0)
    )
    twin = bars.select(
        "symbol",
        "bar_ts",
        "close",
        F.round(
            F.when(
                (F.count(F.lit(1)).over(win) >= 30)
                & (F.stddev_samp("close").over(win) > 0),
                (F.col("close") - F.avg("close").over(win))
                / F.stddev_samp("close").over(win),
            ),
            6,
        ).alias("z_score"),
    )
    import pandas as pd

    got = got_df.toPandas().sort_values(["symbol", "bar_ts"]).reset_index(drop=True)
    want = twin.toPandas().sort_values(["symbol", "bar_ts"]).reset_index(drop=True)
    assert len(got) == len(want) > 0, (len(got), len(want), stats)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_vpin_stream_buckets_straddle_batches(spark):
    """120 monotone-rising ticks land as 3 time-ordered files of 40
    (maxFilesPerTrigger=1): every 50-tick bucket straddles a micro-batch
    boundary, so the tick-rule last-price, the open-bucket fill and the
    signed sum must all carry in state.  Expect exactly 2 completed
    buckets — oi 49/50 then 1.0 — with the 20-tick tail withheld."""
    import datetime as dt

    from quant_market_data_pipeline_spark.streaming.stateful import (
        vpin_stream,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        (
            "x",
            base + dt.timedelta(seconds=i),
            i,
            float(i + 1),
            i // 40,
        )
        for i in range(120)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        df = spark.createDataFrame(
            rows, schema="symbol string, ts timestamp, event_id long, "
            "value double, part int"
        )
        df.repartition("part").write.mode("overwrite").parquet(landing)

        schema = T.StructType(
            [
                T.StructField("symbol", T.StringType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("part", T.IntegerType()),
            ]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        out = vpin_stream(stream.drop("part"), bucket_size=50)
        q = start_stream(
            spark,
            out.writeStream.format("memory")
            .queryName("vpin_straddle")
            .outputMode("append")
            .trigger(availableNow=True),
        )
        q.awaitTermination()
        got = {
            r.bucket_id: r
            for r in spark.sql("select * from vpin_straddle").collect()
        }
    assert set(got) == {0, 1}
    assert got[0].oi_frac == 49 / 50
    assert got[1].oi_frac == 1.0
    assert got[0].vpin is None and got[1].vpin is None


def test_vpin_crash_recovery_state_reloads(spark):
    """Kill the VPIN stream mid-flight after >= 2 committed batches and
    restart from the same checkpoint: the tick-rule last price, the
    open-bucket fill/signed sum and the oi ring must all reload exactly
    — any loss or doubling shifts a bucket boundary or a side and
    changes some oi_frac, so set-equality against the batch bucketing
    (complete buckets only) proves byte-exact state recovery."""
    import shutil
    from pathlib import Path

    from quant_market_data_pipeline_spark.queries.quant import (
        q_vpin_toxicity,
    )
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _SCRATCH,
        _land_time_sliced,
    )
    from quant_market_data_pipeline_spark.sources.tables import load_table
    from quant_market_data_pipeline_spark.streaming.bars_stream import (
        parquet_append_sink,
        read_tick_stream,
    )
    from quant_market_data_pipeline_spark.streaming.pipeline import (
        kill_and_resume,
    )
    from quant_market_data_pipeline_spark.streaming.stateful import (
        vpin_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    ticks = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value") > 0)
        .select(
            F.col("event_type").alias("symbol"), "ts", "event_id", "value"
        )
    )
    base = _SCRATCH / (Path(sf_dir).name + "_vpincrash")
    shutil.rmtree(base, ignore_errors=True)
    landing = str(base / "landing")
    out, ckpt = str(base / "out"), str(base / "ckpt")
    _land_time_sliced(ticks, "ts", landing, n_slices=6)

    schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def writer():
        stream = read_tick_stream(
            spark, landing, schema=schema, fmt="parquet",
            max_files_per_trigger=1,
        )
        v = vpin_stream(
            stream,
            bucket_size=50,
            window_buckets=5,
            key="symbol",
            ts="ts",
            tiebreak="event_id",
            value="value",
        )
        return parquet_append_sink(v, out, ckpt)

    killed_after = kill_and_resume(spark, writer)["phase1_batches"]
    assert killed_after >= 2

    got = {
        (r.symbol, r.bucket_id): (r.n_ticks, round(r.oi_frac, 6))
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.symbol, r.bucket_id): (r.n_ticks, r.oi_frac)
        for r in q_vpin_toxicity(spark, sf_dir)
        .filter(F.col("n_ticks") == 50)
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_rsi_crash_recovery_state_reloads(spark):
    """Kill the Wilder RSI stream mid-flight after >= 2 committed
    batches and restart from the same checkpoint: the per-key smoothed
    averages are a recursion over the whole history, so a lost or
    doubled bar on restart shifts every later RSI value.  The drained
    output must equal the uninterrupted ``stream_rsi_e2e`` rows."""
    from conftest import SF_DIR

    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _land_time_sliced,
        _landed_stream,
        _query_scratch,
        _rsi_bars,
        _rsi_rows,
        _rsi_sink,
    )
    from quant_market_data_pipeline_spark.streaming.pipeline import (
        kill_and_resume,
    )

    bars = _rsi_bars(spark, SF_DIR)
    base = _query_scratch(SF_DIR, "_rsicrash")
    landing = str(base / "landing")
    out, ckpt = str(base / "out"), str(base / "ckpt")
    _land_time_sliced(bars, "bar_ts", landing, n_slices=6)

    stats = kill_and_resume(
        spark,
        lambda: _rsi_sink(_landed_stream(spark, bars, landing), out, ckpt),
    )
    assert stats["phase1_batches"] >= 2, stats

    got = sorted(_rsi_rows(spark, out).collect())
    want = sorted(
        load_all()["stream_rsi_e2e"].spark(spark, SF_DIR).collect()
    )
    assert len(got) == len(want) > 0, (len(got), len(want), stats)
    assert got == want
