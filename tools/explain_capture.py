"""Capture .explain("formatted") output for named queries into
plans/<round_dir>/<query>_<tag>.txt — an optimization round's
before/after plan evidence.

Usage:
    python tools/explain_capture.py <round_dir> <tag> [sf_dir] <query> [query ...]

``round_dir`` names the directory under ``plans/`` (e.g. ``r15``);
``tag`` is typically ``before`` or ``after``.  The plan is the ANALYZED
physical plan (pre-execution, AdaptiveSparkPlan isFinalPlan=false) —
deterministic w.r.t. the code, unlike the AQE-final executed plan, so a
diff between two captures reflects a code change, not runtime adaptivity.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    round_dir, tag = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest

    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="explain_capture")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        round_dir,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        spec = registry.get(name)
        if spec is None:
            print(f"SKIP {name}: not registered")
            continue
        df = spec.spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({tag})\n")
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"wrote {path} (Exchange nodes: {n_ex})")


if __name__ == "__main__":
    main()
