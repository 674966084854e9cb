"""Python DataSource (format('synthbars')) — batch + streaming gates.

The batch side is value-gated by the DuckDB oracle (pyds_synth_bars);
these tests pin what the oracle can't see: the InputPartition slicing,
bit-exact determinism across reads, and the streaming reader's
offset-range replay through a REAL streaming query into a memory sink.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def synthbars(spark):
    from quant_market_data_pipeline_spark.sources.pyds import (
        register_synthbars,
    )

    register_synthbars(spark)
    return spark


def test_batch_rows_match_closed_form_and_partitioning(synthbars):
    from quant_market_data_pipeline_spark.sources.pyds import synth_bar

    spark = synthbars
    df = (
        spark.read.format("synthbars")
        .option("rows", "437")
        .option("rowsPerPartition", "100")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5  # ceil(437 / 100)
    got = sorted(df.collect(), key=lambda r: r.bar_id)
    assert len(got) == 437
    for r in got:
        want = synth_bar(r.bar_id)
        assert (r.bar_id, r.symbol, r.ts_epoch_s, r.close, r.volume) == want
    # determinism: a second read is bit-identical
    again = sorted(
        spark.read.format("synthbars")
        .option("rows", "437")
        .option("rowsPerPartition", "100")
        .load()
        .collect(),
        key=lambda r: r.bar_id,
    )
    assert got == again


def test_stream_reader_offsets_cover_keyspace_exactly_once(
    synthbars, tmp_path
):
    from quant_market_data_pipeline_spark.session import start_stream
    from quant_market_data_pipeline_spark.sources.pyds import synth_bar

    spark = synthbars
    stream = (
        spark.readStream.format("synthbars")
        .option("rows", "500")
        .option("batchrows", "200")
        .load()
    )
    q = start_stream(
        spark,
        stream.writeStream.format("memory")
        .queryName("synthbars_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt")),
    )
    # availableNow drains only ONE simple-reader offset increment, so
    # run the normal micro-batch trigger and poll until the keyspace
    # is exhausted (the reader emits empty batches past `rows`)
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM synthbars_sink").first().c >= 500:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    rows = sorted(
        spark.sql("SELECT * FROM synthbars_sink").collect(),
        key=lambda r: r.bar_id,
    )
    # exactly the keyspace, no dups, no holes, each row the closed form
    assert [r.bar_id for r in rows] == list(range(500))
    for r in rows[::37]:
        assert (
            r.bar_id,
            r.symbol,
            r.ts_epoch_s,
            r.close,
            r.volume,
        ) == synth_bar(r.bar_id)
    # >1 micro-batch actually ran (offset ranges, not one big read)
    data_batches = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    assert len(data_batches) >= 2
