"""Pair alignment: the stat-arb spine of the reference.

Re-expresses /root/reference/project/transform_data.py:101-180 —

- J1  pair alignment inner equi-join on exact timestamp (``:121-141``)
- P11 leg projection with sign-flipped spread/z-score for leg 2
      (``:156-178``)
- U1  stacking the two legs (``:180``) of every pair (``:187-192``)

Scale notes: the pair list is a broadcast leg dimension, not a per-pair
driver loop, so 1 pair or 10,000 pairs is one scan and one shuffle on
(pair_name, timestamp); the legs stack by one ``explode``, not a union
re-scan.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def leg_dimension(spark: SparkSession, pairs: list[tuple[str, str]]) -> DataFrame:
    """``symbol, pair_name, sym1, sym2, leg``, one row per (symbol, pair,
    leg): a symbol in many pairs fans out here.  A pair listed twice is
    one pair."""
    leg_rows = list(
        chain.from_iterable(
            ((s1, f"{s1}_{s2}", s1, s2, 1), (s2, f"{s1}_{s2}", s1, s2, 2))
            for s1, s2 in dict.fromkeys(map(tuple, pairs))
        )
    )
    return spark.createDataFrame(
        leg_rows, ["symbol", "pair_name", "sym1", "sym2", "leg"]
    )


def align_legs(
    tagged: DataFrame, ts: str = "timestamp", value: str = "close"
) -> DataFrame:
    """J1 over leg-tagged rows: ``pair_name, sym1, sym2, ts, {value}1,
    {value}2``, with the inner join's multiplicity: every leg-1 value
    pairs with every leg-2 value at a shared (pair, ts), and a timestamp
    missing on either leg yields no row (an empty list explodes to none).
    Grouping on the legs too keeps ("A_B", "C") apart from ("A", "B_C").
    """
    legs = [f"{value}{n}" for n in (1, 2)]
    lists = tagged.groupBy("pair_name", "sym1", "sym2", ts).agg(
        *(
            F.collect_list(F.when(F.col("leg") == n, F.col(value))).alias(c)
            for n, c in enumerate(legs, 1)
        ),
    )
    for c in legs:
        lists = lists.withColumn(c, F.explode(c))
    return lists


def explode_legs(scored: DataFrame) -> DataFrame:
    """P11 + U1: long format ``symbol, timestamp, close, spread, z_score,
    pair_name`` — one row per leg, leg 2 carrying the negated spread and
    z-score (transform_data.py:176-177)."""
    leg_structs = F.array(
        F.struct(
            F.col("sym1").alias("symbol"),
            F.col("close1").alias("close"),
            F.lit(1.0).alias("sign"),
        ),
        F.struct(
            F.col("sym2").alias("symbol"),
            F.col("close2").alias("close"),
            F.lit(-1.0).alias("sign"),
        ),
    )
    return scored.select(
        F.explode(leg_structs).alias("leg"),
        "timestamp",
        "spread",
        "z_score",
        "pair_name",
    ).select(
        F.col("leg.symbol").alias("symbol"),
        "timestamp",
        F.col("leg.close").alias("close"),
        (F.col("spread") * F.col("leg.sign")).alias("spread"),
        (F.col("z_score") * F.col("leg.sign")).alias("z_score"),
        "pair_name",
    )
