"""Streaming bar builder == batch bar builder on the same ticks
(backfill/live parity), plus stateful dedup."""

from __future__ import annotations

import tempfile

import pandas as pd
from pyspark.sql import functions as F

from quant_market_data_pipeline_spark.operators.bars import build_bars
from quant_market_data_pipeline_spark.session import start_stream
from quant_market_data_pipeline_spark.streaming.bars_stream import (
    TICK_SCHEMA,
    dedup_stream,
    parquet_bar_sink,
    read_tick_stream,
    stream_bars,
)
from quant_market_data_pipeline_spark.streaming.pipeline import run_live_bars


def _write_landing(spark, events, landing):
    (
        events.select(
            "event_id",
            F.col("ts"),
            F.col("event_type").alias("symbol"),
            F.col("value").alias("price"),
        )
        .coalesce(4)
        .write.mode("overwrite")
        .json(landing)
    )


def test_stream_bars_match_batch(spark, events):
    with tempfile.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        _write_landing(spark, events, landing)

        ticks = read_tick_stream(spark, landing)
        bars = stream_bars(ticks, width="1 hour", watermark_delay="10 minutes")
        q = start_stream(
            spark,
            bars.writeStream.format("memory")
            .queryName("bars_stream_test")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True),
        )
        q.awaitTermination(120)

        got = spark.sql(
            "SELECT * FROM bars_stream_test"
        ).toPandas().set_index(["symbol", "bar_ts"]).sort_index()

        want_all = (
            build_bars(
                events.select(
                    "event_id",
                    "ts",
                    F.col("event_type").alias("symbol"),
                    F.col("value").alias("price"),
                ),
                key="symbol",
                ts="ts",
                price="price",
                width="1 hour",
                tiebreak="event_id",
            )
            .drop("vwap_num")
            .toPandas()
            .set_index(["symbol", "bar_ts"])
            .sort_index()
        )

        # Append mode emits only windows finalized by the watermark; every
        # emitted bar must equal its batch twin, and most windows close.
        assert len(got) > 0
        want = want_all.loc[got.index]
        pd.testing.assert_frame_equal(got[want.columns], want)
        # all but the tail windows (inside the watermark delay) were emitted
        assert len(got) >= len(want_all) - 2 * events.select(
            "event_type"
        ).distinct().count()


def test_dedup_stream_drops_duplicates(spark):
    with tempfile.TemporaryDirectory() as tmp:
        pdf = pd.DataFrame(
            {
                "event_id": [1, 1, 2, 2, 3],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00:01"] * 2
                    + ["2024-01-01 00:00:02"] * 2
                    + ["2024-01-01 00:00:03"]
                ),
                "symbol": ["A"] * 5,
                "price": [1.0, 1.0, 2.0, 2.0, 3.0],
            }
        )
        landing = f"{tmp}/landing"
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").json(landing)

        ticks = read_tick_stream(spark, landing)
        deduped = dedup_stream(ticks, keys=["symbol", "event_id"])
        q = start_stream(
            spark,
            deduped.writeStream.format("memory")
            .queryName("dedup_stream_test")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True),
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM dedup_stream_test").toPandas()
        assert sorted(got["event_id"].tolist()) == [1, 2, 3]


def test_stream_stream_join_matches_batch(spark, events):
    """Watermarked stream-stream attribution join == the batch range join
    on the same events."""
    import tempfile as _tf

    from pyspark.sql import types as T

    from quant_market_data_pipeline_spark.streaming.bars_stream import (
        stream_stream_attribution,
    )

    sub = events.select("event_id", "ts", "user_id", "event_type", "value")
    with _tf.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        sub.coalesce(2).write.mode("overwrite").parquet(landing)
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )

        def src():
            return spark.readStream.schema(schema).parquet(landing)

        joined = stream_stream_attribution(
            src().filter(F.col("event_type") == "view"),
            src().filter(F.col("event_type") == "purchase"),
        )
        q = start_stream(
            spark,
            joined.writeStream.format("memory")
            .queryName("ss_join")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True),
        )
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT view_id, p_ts, p_value FROM ss_join"
        ).toPandas()

    views = sub.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    purchases = sub.filter(F.col("event_type") == "purchase")
    want = (
        views.join(
            purchases,
            (purchases["user_id"] == views["v_user"])
            & (purchases["ts"] > views["v_ts"])
            & (purchases["ts"] <= views["v_ts"] + F.expr("INTERVAL 1 HOUR")),
        )
        .select("view_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
        .toPandas()
    )
    key = ["view_id", "p_ts", "p_value"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    assert (got_s[key].values == want_s[key].values).all()


def test_live_pipeline_end_to_end(spark, events):
    """landing -> dedup -> bars -> partitioned parquet lake; lake contents
    == batch backfill over the same landing files (with injected dupes)."""
    import tempfile as _tf

    from pyspark.sql import types as T

    from quant_market_data_pipeline_spark.streaming.pipeline import (
        run_live_bars,
    )

    ticks = events.select(
        "event_id",
        "ts",
        F.col("event_type").alias("symbol"),
        F.col("value").alias("price"),
    )
    dirty = ticks.unionByName(ticks.limit(500))  # injected duplicates

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("symbol", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    with _tf.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        dirty.coalesce(2).write.mode("overwrite").parquet(landing)
        q = run_live_bars(
            spark,
            landing,
            out_dir=f"{tmp}/lake",
            checkpoint_dir=f"{tmp}/ckpt",
            schema=schema,
            width="1 hour",
            available_now=True,
        )
        q.awaitTermination(180)
        lake = spark.read.parquet(f"{tmp}/lake").toPandas()

    # batch backfill truth on the deduped ticks
    want = (
        build_bars(
            ticks.dropDuplicates(["symbol", "event_id"]),
            key="symbol", ts="ts", price="price",
            width="1 hour", tiebreak="event_id",
        )
        .drop("vwap_num")
        .toPandas()
    )
    lake_idx = lake.set_index(["symbol", "bar_ts"]).sort_index()
    want_idx = want.set_index(["symbol", "bar_ts"]).sort_index()
    # append-mode stream withholds windows still inside the watermark; all
    # emitted bars must match the backfill exactly
    assert len(lake_idx) > 0
    matched = want_idx.loc[lake_idx.index]
    pd.testing.assert_frame_equal(
        lake_idx[matched.columns].astype({"volume": "int64"}),
        matched.astype({"volume": "int64"}),
    )
    # partition layout (trading_date=... dirs) is implied by the
    # partitioned read above recovering the partition column


def test_pipeline_rerun_is_idempotent(spark, events):
    """Re-running the live pipeline from a FRESH checkpoint over the same
    landing data rewrites the same partitions — no duplication (the
    exactly-once-at-partition-level claim of parquet_bar_sink)."""
    import tempfile as _tf

    from pyspark.sql import types as T

    from quant_market_data_pipeline_spark.streaming.pipeline import (
        run_live_bars,
    )

    ticks = events.limit(2000).select(
        "event_id",
        "ts",
        F.col("event_type").alias("symbol"),
        F.col("value").alias("price"),
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("symbol", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    with _tf.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        ticks.coalesce(1).write.mode("overwrite").parquet(landing)
        for run in (1, 2):  # second run: fresh checkpoint, same data
            q = run_live_bars(
                spark,
                landing,
                out_dir=f"{tmp}/lake",
                checkpoint_dir=f"{tmp}/ckpt{run}",
                schema=schema,
                width="1 hour",
                available_now=True,
            )
            q.awaitTermination(120)
            if run == 1:
                first = spark.read.parquet(f"{tmp}/lake").count()
        second = spark.read.parquet(f"{tmp}/lake").count()
    assert first > 0
    assert second == first  # replay overwrote, never appended


def test_update_mode_emits_final_counts(spark, events):
    """Update output mode: windows re-emit as data arrives across
    micro-batches; the LAST emission per key equals the batch truth
    (the dashboard-feed mode, vs append's emit-once-final)."""
    import tempfile as _tf

    from pyspark.sql import types as T

    ticks = events.limit(3000).select(
        "ts", F.col("event_type").alias("symbol"), F.col("value").alias("price")
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("symbol", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    with _tf.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        ticks.repartition(3).write.mode("overwrite").parquet(landing)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        counts = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("symbol", F.window("ts", "1 day").start.alias("day"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = start_stream(
            spark,
            counts.writeStream.format("memory")
            .queryName("update_counts")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True),
        )
        q.awaitTermination(120)
        emitted = spark.sql("SELECT * FROM update_counts").toPandas()

    # multiple emissions per key across batches; last one is the truth
    last = (
        emitted.groupby(["symbol", "day"]).last().reset_index()
    )
    want = (
        ticks.groupBy("symbol", F.window("ts", "1 day").start.alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    merged = last.merge(
        want, on=["symbol", "day"], suffixes=("_got", "_want")
    )
    assert len(merged) == len(want)
    assert (merged["n_got"] == merged["n_want"]).all()
    # update mode re-emitted at least some keys more than once
    assert len(emitted) > len(want)


def test_multi_batch_sink_no_data_loss(spark, events):
    """Several micro-batches finalize bars for the SAME trading dates; the
    sink must retain every batch's output (a date-granular overwrite would
    let each batch wipe its predecessors' bars — the bug this pins)."""
    import tempfile as _tf

    from pyspark.sql import types as T

    from quant_market_data_pipeline_spark.streaming.pipeline import (
        run_live_bars,
    )

    ticks = events.select(
        "event_id",
        "ts",
        F.col("event_type").alias("symbol"),
        F.col("value").alias("price"),
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("symbol", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    with _tf.TemporaryDirectory() as tmp:
        landing = f"{tmp}/landing"
        # time-split landing files, written oldest-first so the file
        # source (ordered by mod time) replays them in event-time order:
        # each 1-file micro-batch advances the watermark and finalizes
        # more windows for the same dates.
        import time as _time

        bounds = ticks.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        lo, hi = bounds["lo"], bounds["hi"]
        span = (hi - lo) / 4
        for i in range(4):
            chunk = ticks.filter(
                (F.col("ts") >= lo + i * span)
                & (F.col("ts") < lo + (i + 1) * span)
                if i < 3
                else (F.col("ts") >= lo + i * span)
            )
            chunk.coalesce(1).write.mode("overwrite").parquet(
                f"{landing}/part{i}"
            )
            _time.sleep(1.1)  # distinct mtimes -> deterministic order
        q = run_live_bars(
            spark,
            f"{landing}/part*",
            out_dir=f"{tmp}/lake",
            checkpoint_dir=f"{tmp}/ckpt",
            schema=schema,
            width="1 hour",
            available_now=True,
            max_files_per_trigger=1,
        )
        q.awaitTermination(240)
        lake = spark.read.parquet(f"{tmp}/lake").toPandas()

    # the multi-batch path must actually have been exercised
    assert lake["batch_id"].nunique() > 1
    # no (symbol, bar_ts) appears twice -- append mode finalizes once
    assert not lake.duplicated(["symbol", "bar_ts"]).any()
    # every emitted bar equals its batch-backfill twin, and later batches
    # did NOT wipe earlier batches' bars: emitted coverage strictly
    # exceeds what any single batch alone produced (>= half the truth).
    want = (
        build_bars(
            ticks, key="symbol", ts="ts", price="price",
            width="1 hour", tiebreak="event_id",
        )
        .drop("vwap_num")
        .toPandas()
        .set_index(["symbol", "bar_ts"])
        .sort_index()
    )
    lake_idx = lake.set_index(["symbol", "bar_ts"]).sort_index()
    matched = want.loc[lake_idx.index]
    pd.testing.assert_frame_equal(
        lake_idx[matched.columns].astype({"volume": "int64"}),
        matched.astype({"volume": "int64"}),
    )
    assert len(lake_idx) >= len(want) // 2


def test_kafka_source_wiring(spark):
    """Kafka source adapter: the from_json projection against the tick
    schema is constructible; starting the query requires a broker +
    connector jar (absent in-container), so reaching the
    DATA_SOURCE_NOT_FOUND error from .load() proves the wiring."""
    import pytest

    from quant_market_data_pipeline_spark.streaming.bars_stream import (
        read_kafka_tick_stream,
    )

    with pytest.raises(Exception) as ei:
        read_kafka_tick_stream(spark, "localhost:9092", "ticks")
    assert "kafka" in str(ei.value).lower()


def test_kafka_payload_parse_without_broker(spark):
    """r9: the deserialization half of the Kafka source — the part that
    can actually be wrong in THIS repo — exercised end-to-end on Kafka's
    wire shape (binary key/value columns) without a broker: valid
    payloads parse to typed ticks, malformed JSON and type-mismatched
    fields surface as nulls (PERMISSIVE bronze posture), never errors."""
    from pyspark.sql import functions as F

    from quant_market_data_pipeline_spark.streaming.bars_stream import (
        parse_kafka_payload,
    )

    payloads = [
        # valid tick
        b'{"event_id": 1, "ts": "2024-01-01T09:30:00", '
        b'"symbol": "click", "price": 10.5}',
        # malformed JSON -> whole row null
        b'{"event_id": 2, "ts": ',
        # type mismatch on price -> that field null, rest parsed
        b'{"event_id": 3, "ts": "2024-01-01T09:31:00", '
        b'"symbol": "view", "price": "not-a-number"}',
        # extra unknown field ignored
        b'{"event_id": 4, "ts": "2024-01-01T09:32:00", '
        b'"symbol": "view", "price": 7.25, "venue": "X"}',
    ]
    wire = spark.createDataFrame(
        [(str(i).encode(), v, "ticks", 0, i) for i, v in enumerate(payloads)],
        "key binary, value binary, topic string, partition int, offset long",
    )
    rows = {
        r.event_id: r
        for r in parse_kafka_payload(wire).orderBy(
            F.col("event_id").asc_nulls_last()
        ).collect()
    }
    assert rows[1].symbol == "click" and rows[1].price == 10.5
    assert rows[1].ts is not None
    assert None in rows  # the malformed payload row survives as nulls
    assert rows[3].price is None and rows[3].symbol == "view"
    assert rows[4].price == 7.25  # unknown fields ignored, not fatal


def test_crash_recovery_exactly_once(spark):
    """Kill the live bar stream mid-flight after >= 2 committed batches,
    restart from the same checkpoint, drain — the output must equal the
    uninterrupted batch twin exactly (no dupes from the replayed batch,
    no loss from the kill)."""
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _run_crash_recovery,
    )
    from quant_market_data_pipeline_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    bars, stats = _run_crash_recovery(spark, sf_dir)
    # the kill happened after at least two data-carrying micro-batches —
    # checkpoint state (offsets + dedup + window) was genuinely mid-job
    assert stats["phase1_batches"] >= 2, stats

    ticks = load_table(spark, "events", sf_dir)
    cutoff = ticks.agg(
        (F.max("ts") - F.expr("INTERVAL 20 minutes")).alias("c")
    ).collect()[0]["c"]
    twin = (
        build_bars(
            ticks,
            key="event_type",
            ts="ts",
            price="value",
            width="5 minutes",
            tiebreak="event_id",
        )
        .filter(F.col("bar_ts") <= F.lit(cutoff))
        .select(
            F.col("event_type").alias("symbol"),
            "bar_ts", "open", "high", "low", "close", "volume",
        )
    )
    got = bars.toPandas().sort_values(["symbol", "bar_ts"]).reset_index(drop=True)
    want = twin.toPandas().sort_values(["symbol", "bar_ts"]).reset_index(drop=True)
    assert len(got) == len(want) > 0, (len(got), len(want), stats)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _land_ticks(spark, landing, minute0):
    """One parquet file of 40 ticks a minute apart, from ``minute0``."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 2, 9, 30) + dt.timedelta(minutes=minute0)
    rows = [
        (minute0 + i, t0 + dt.timedelta(minutes=i), "A", 100.0 + i)
        for i in range(40)
    ]
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)


def _state_partitions(query):
    """Every stateful operator's shuffle-partition count, over every
    progress event of ``query``."""
    counts = {
        op.numShufflePartitions
        for p in query.recentProgress
        for op in p.stateOperators
    }
    assert counts, "no stateful operator reported progress"
    return counts


def test_start_stream_sizes_new_checkpoint_per_core(spark, tmp_path):
    """A new checkpoint started through the engine gets one state store
    per core in every stateful operator (dedup and window aggregate),
    and the session's own batch value reads the same once ``start()``
    has returned."""
    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    assert own != str(spark.sparkContext.defaultParallelism)
    landing = str(tmp_path / "landing")
    _land_ticks(spark, landing, 0)
    q = run_live_bars(
        spark, landing, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        schema=TICK_SCHEMA, available_now=True,
    )
    assert spark.conf.get(key) == own
    q.awaitTermination(120)
    assert q.exception() is None
    assert _state_partitions(q) == {spark.sparkContext.defaultParallelism}


def test_start_stream_resume_keeps_checkpoint_partitions(spark, tmp_path):
    """A checkpoint first started with a plain ``writer.start()`` at the
    session's 32 partitions keeps 32 when it resumes through
    ``start_stream``: its state cannot be repartitioned."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    landing, out, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))

    def writer():
        ticks = read_tick_stream(spark, landing, fmt="parquet")
        clean = dedup_stream(ticks, keys=["symbol", "event_id"])
        bars = stream_bars(clean, width="5 minutes", watermark_delay=None)
        return parquet_bar_sink(bars, out, ckpt).trigger(availableNow=True)

    _land_ticks(spark, landing, 0)
    q1 = writer().start()
    q1.awaitTermination(120)
    assert _state_partitions(q1) == {32}

    _land_ticks(spark, landing, 40)
    q2 = start_stream(spark, writer())
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert any(p.numInputRows > 0 for p in q2.recentProgress)
    assert _state_partitions(q2) == {32}


def test_sketch_sinks_write_one_file_per_batch_leaf(spark):
    """The five sketch queries write each micro-batch's partial as one
    parquet file under its ``batch_id=`` leaf, not one per shuffle
    partition.  AQE partition coalescing is off for the runs: at this
    scale it merges the partials' shuffle partitions into one anyway, and
    the sink must not depend on it (at larger scale it keeps several)."""
    from pathlib import Path

    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _SCRATCH,
    )

    sf_dir = "/root/testdata/sf0.001"
    registry = load_all()
    sinks = {  # query -> (scratch suffix, partials dir)
        "stream_hll_distinct_e2e": ("_hll", "regs"),
        "stream_quantile_e2e": ("_qh", "hist"),
        "stream_countmin_e2e": ("_cms", "cms"),
        "stream_bloom_e2e": ("_bloom", "bloom"),
        "stream_kmv_e2e": ("_kmv", "kmv"),
    }
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    own = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for name in sinks:
            registry[name].spark(spark, sf_dir).count()
    finally:
        spark.conf.set(key, own)
    for name, (suffix, out) in sinks.items():
        leaves = sorted((_SCRATCH / (Path(sf_dir).name + suffix) / out).glob(
            "batch_id=*"
        ))
        assert len(leaves) > 1, (name, leaves)
        files = {
            leaf.name: len(list(leaf.glob("part-*.parquet"))) for leaf in leaves
        }
        assert set(files.values()) == {1}, (name, files)


def test_start_stream_concurrent_starts_restore_session(spark):
    """Threads starting streams on one session at once each start under
    the per-core count, and the session's own value survives: without the
    lock, one thread reads another's temporary value as the one to
    restore."""
    import sys
    import threading
    import time

    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    per_core = str(spark.sparkContext.defaultParallelism)
    seen = []

    class Writer:
        def start(self):
            seen.append(spark.conf.get(key))
            time.sleep(0.005)

    def worker():
        for _ in range(5):
            start_stream(spark, Writer())

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert seen == [per_core] * 40
    assert spark.conf.get(key) == own
