"""The reference's daily ETL run (E1), end-to-end on engine operators.

Reproduces ``/root/reference/project/transform_data.py:183-212`` (the
Airflow ``transform`` task) as one composable function: bronze JSON scan
-> clean/cast (P1-P4) -> RTH filter (P5-P8) -> pair align + log-spread
(J1, P9) -> rolling z-score with min-periods gate (W1-W5, P10) -> leg
projection with sign flip (P11, U1) -> idempotent partitioned lake write
(replacing the destructive JDBC overwrite at ``:199-209``), then the DQ
gate (``validate_data.py`` semantics) and its exit-code contract.

Differences from the reference, by design:
- one scan: bars join the broadcast leg dimension and ONE shuffle on
  (pair, timestamp) aligns every pair (no per-pair driver loop);
- one write action over that plan: an ``Observation`` on the written
  frame counts its rows and collects its trading days, in place of
  repeated ``isEmpty()``/``count()`` actions (SURVEY §4 anti-patterns);
- the DQ gate aggregates a read-back of just the written partitions
  (dynamic overwrite makes them exactly this run's rows), as the
  reference's validate stage queries the table it has just loaded;
- the write is per-partition idempotent, so re-running a day is safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quant_market_data_pipeline_spark.operators.dq import (
    completeness_report,
    run_summary,
    write_with_observation,
)
from quant_market_data_pipeline_spark.operators.pair import (
    align_legs,
    explode_legs,
    leg_dimension,
)
from quant_market_data_pipeline_spark.operators.rolling import (
    with_rolling_zscore,
)
from quant_market_data_pipeline_spark.operators.rth import filter_rth
from quant_market_data_pipeline_spark.sources.json_bronze import (
    explode_to_bars,
    read_raw_json,
)
from quant_market_data_pipeline_spark.sources.sink import _partition_dir_name


def daily_legs(
    spark: SparkSession,
    raw_dir: str,
    pairs: list[tuple[str, str]],
    rth: bool = True,
) -> DataFrame:
    """The lake rows of one run: ``symbol, timestamp, close, spread,
    z_score``, one row per leg per aligned bar, over one bronze scan."""
    bars = explode_to_bars(read_raw_json(spark, raw_dir))
    if rth:
        bars = filter_rth(bars, ts="timestamp")
    bars = bars.select(
        "symbol", "timestamp", F.col("close").cast("double").alias("close")
    )
    tagged = bars.join(F.broadcast(leg_dimension(spark, pairs)), "symbol")
    aligned = align_legs(tagged)
    spread = aligned.withColumn("spread", F.log("close1") - F.log("close2"))
    scored = with_rolling_zscore(
        spread, partition_by=["pair_name", "sym1", "sym2"], order_by=["timestamp"]
    )
    return explode_legs(scored).drop("pair_name")


def run_daily_etl(
    spark: SparkSession,
    raw_dir: str,
    out_path: str,
    pairs: list[tuple[str, str]],
    expected_bars: int = 78,
    tolerance: int = 2,
    rth: bool = True,
) -> dict:
    """Execute the full daily pipeline; returns the DQ summary row as a
    dict plus the gate verdict (``ok`` False == the reference's exit 1).
    """
    result = daily_legs(spark, raw_dir, pairs, rth)
    # Idempotent write (transform_data.py:194-209, minus the
    # constraint-dropping full overwrite).  A zero-row write replaces no
    # partition under dynamic overwrite, so the emptiness guard can
    # follow it.
    observed = write_with_observation(
        result,
        out_path,
        {"rows": F.count(F.lit(1)), "days": F.collect_set(F.to_date("timestamp"))},
    )
    if observed["rows"] == 0:
        return {"ok": False, "reason": "empty result", "rows": 0}

    base = out_path.rstrip("/")
    days = [
        f"{base}/{_partition_dir_name(spark, 'trading_date', d)}"
        for d in observed["days"]
    ]
    written = spark.read.schema(result.schema).option("basePath", base).parquet(*days)
    report = completeness_report(
        written, expected_bars=expected_bars, tolerance=tolerance
    )
    summary = run_summary(report).first().asDict()
    summary["ok"] = summary["run_status"] != "FAIL"
    summary["rows"] = observed["rows"]
    return summary


def exit_code(summary: dict) -> int:
    """Scheduler gate (E1 contract): 0 = downstream may run, 1 = halt.

    Mirrors the reference DAG's task gating
    (/root/reference/dags/quant_pipeline_dag.py:31-66 chains
    ingest -> transform -> validate and each task fails the run via its
    process exit code; validate_data.py:218-227 exits 1 on a FAIL badge).
    An empty result or a FAIL run_status is a hard stop; WARN degrades the
    badge but does not halt (reference prints the warning and proceeds).
    """
    return 0 if summary.get("ok") else 1


def main(argv: list[str] | None = None) -> int:
    """CLI entrypoint for external schedulers (Airflow BashOperator, cron):

        python -m quant_market_data_pipeline_spark.plans.daily_etl \\
            RAW_DIR OUT_PATH --pairs AAPL:MSFT,SPY:QQQ [--expected-bars 78]

    Prints the DQ summary as one JSON line on stdout and returns the gate
    exit code — the whole orchestration contract an external DAG needs.
    """
    import argparse
    import json

    from quant_market_data_pipeline_spark.session import get_spark

    p = argparse.ArgumentParser(description=main.__doc__)
    p.add_argument("raw_dir")
    p.add_argument("out_path")
    p.add_argument(
        "--pairs",
        required=True,
        help="comma-separated SYM1:SYM2 pair list",
    )
    p.add_argument("--expected-bars", type=int, default=78)
    p.add_argument("--tolerance", type=int, default=2)
    p.add_argument("--no-rth", action="store_true")
    args = p.parse_args(argv)

    pairs = [tuple(s.split(":", 1)) for s in args.pairs.split(",") if s]
    spark = get_spark(app_name="daily_etl")
    summary = run_daily_etl(
        spark,
        args.raw_dir,
        args.out_path,
        pairs,
        expected_bars=args.expected_bars,
        tolerance=args.tolerance,
        rth=not args.no_rth,
    )
    print(json.dumps({k: str(v) if v is not None else None for k, v in summary.items()}))
    return exit_code(summary)


if __name__ == "__main__":
    raise SystemExit(main())
