"""Streaming e2e cost-structure probe (r15, VERDICT item 7): time each
stream_* query at two scale factors.  A wall that barely moves between
sf0.001 and sf0.1 (100x the data) is micro-batch fixed cost (trigger
scheduling, state-store commits, checkpoint fsyncs, landing-dir setup),
not data work — the per-operator table that says whether batch-side
tuning can matter at all.

Usage: python tools/probe_stream.py [query ...]   (default: every
registered stream_* query).  The first query runs once, untimed,
before the table, so no row pays the cold JVM.  Imports the package of
the checkout the script lives in, so a copy of another tree times that
tree.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="probe_stream")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    names = sys.argv[1:] or sorted(n for n in registry if n.startswith("stream_"))

    def calib() -> float:
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 32).selectExpr(
            "sum(id * 2 + 1) AS s"
        ).collect()
        return round(time.perf_counter() - t0, 3)

    print("calib_start:", calib())
    # warm-up: the first query of a run would otherwise pay the cold JVM
    # and JIT (about 2x its wall), so run it once, untimed, first
    spark.catalog.clearCache()
    registry[names[0]].spark(spark, "/root/testdata/sf0.001").count()
    print(f"{'query':34s} {'sf0.001':>8s} {'sf0.1':>8s} {'ratio':>6s}")
    for name in names:
        spec = registry[name]
        walls = {}
        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            spec.spark(spark, sf).count()
            walls[sf] = round(time.perf_counter() - t0, 3)
        r = walls["/root/testdata/sf0.1"] / max(
            walls["/root/testdata/sf0.001"], 1e-9
        )
        print(
            f"{name:34s} {walls['/root/testdata/sf0.001']:8.3f} "
            f"{walls['/root/testdata/sf0.1']:8.3f} {r:6.2f}"
        )
    print("calib_end:", calib())


if __name__ == "__main__":
    main()
