"""Flagship plan: tick stream -> bars -> aligned pairs -> rolling z-score.

This is the reference's E1 transform spine (SURVEY §3,
/root/reference/project/transform_data.py:101-180) generalized to any
tick/event source:

  scan -> bar build -> pair align (J1) -> log-spread (P9)
       -> rolling z-score W1-W5 with min-periods gate (P10)
       -> leg projection + sign flip (P11) -> long-format stack (U1)

On the driver testdata, "symbols" are ``event_type`` values of the
``events`` table and the price is ``value`` (FIXTURES.md operator-fixture
mapping); semantics are identical to the reference's close-price pairs.

Scale shape — deliberately different from the reference's per-pair driver
loop (which re-scans the source once per pair):

- the pair list is a *broadcast leg-membership dimension*, not Python
  control flow, so 1 pair or 10,000 pairs is the same plan;
- bar building and pair alignment FUSE into a single aggregation: ticks
  join the broadcast leg map, then ONE shuffle on (pair_name, bucket)
  computes both legs' closes via null-ignoring conditional max(struct) —
  the naive bars-then-self-join plan aggregates the tick table twice and
  shuffles three times (measured 6s -> ~1s on the sf0.1 bench);
- the rolling window partitions by the real ``pair_name`` column;
- the two legs are emitted by an ``explode`` of an inline struct array —
  one pass over the scored frame, no union re-scan and no cache needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quant_market_data_pipeline_spark.operators.pair import (
    explode_legs,
    leg_dimension,
)
from quant_market_data_pipeline_spark.operators.rolling import with_rolling_zscore


def pair_zscore(
    ticks: DataFrame,
    pairs: list[tuple[str, str]],
    key: str = "event_type",
    ts: str = "ts",
    price: str = "value",
    width: str = "5 minutes",
    window_bars: int = 60,
    min_periods: int = 30,
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """Long-format (symbol, timestamp, close, spread, z_score, pair_name).

    ``spread = ln(close1) - ln(close2)`` per pair per aligned bar
    (transform_data.py:139) where closeN is the last tick by (ts, tiebreak)
    in the bucket; z-score over a ``window_bars`` trailing frame, NULL
    below ``min_periods`` (``:145-153``); leg 2 carries the negated
    spread/z-score (``:176-177``).
    """
    # Leg-membership dimension, applied map-side via broadcast.
    leg_map = leg_dimension(ticks.sparkSession, pairs)

    # Validity gate: zero/negative prices are data errors for a log-price
    # model (clean_data's null-drop spirit, transform_data.py:65) — and
    # ln(0) diverges engines (Spark NULL vs ANSI error).
    ticks = ticks.filter(F.col(price) > 0)
    tagged = ticks.join(F.broadcast(leg_map), ticks[key] == leg_map["symbol"])

    # Fused bar-build + pair-align: one hash shuffle on (pair, bucket).
    # max(struct) ignores NULL, so each leg's conditional struct picks the
    # last tick by (ts, tiebreak) among that leg's rows only.
    order_cols = [F.col(ts), F.col(tiebreak)] if tiebreak else [F.col(ts)]
    leg_struct = {
        n: F.when(F.col("leg") == n, F.struct(*order_cols, F.col(price)))
        for n in (1, 2)
    }
    aligned = (
        tagged.groupBy(
            "pair_name", F.window(ts, width).start.alias("timestamp")
        )
        .agg(
            F.first("sym1").alias("sym1"),
            F.first("sym2").alias("sym2"),
            F.max(leg_struct[1]).getField(price).alias("close1"),
            F.max(leg_struct[2]).getField(price).alias("close2"),
        )
        .filter(F.col("close1").isNotNull() & F.col("close2").isNotNull())
    )

    spread = aligned.withColumn("spread", F.log("close1") - F.log("close2"))
    scored = with_rolling_zscore(
        spread,
        value="spread",
        partition_by=["pair_name"],
        order_by=["timestamp"],
        n=window_bars,
        min_periods=min_periods,
    )

    return explode_legs(scored)
