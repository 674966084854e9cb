"""Compare query outputs between two repo trees (a base tree, e.g. a
`git archive` of the parent commit, and this working tree) on one
fixture dir — the result-identity gate for restructured queries.

Runs in TWO subprocesses (one per tree) so each tree's modules import
cleanly, writes sorted row dumps, diffs them here.

Usage: python tools/diff_outputs.py <base_tree> <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUNNER = r"""
import sys, json
root = sys.argv[1]
sf_dir = sys.argv[2]
names = sys.argv[3:]
sys.path.insert(0, root)
from quant_market_data_pipeline_spark.queries import load_all
from quant_market_data_pipeline_spark.session import get_spark
spark = get_spark(app_name="diff_outputs")
spark.sparkContext.setLogLevel("ERROR")
registry = load_all()
out = {}
for name in names:
    df = registry[name].spark(spark, sf_dir)
    cols = sorted(df.columns)
    rows = sorted(
        tuple(repr(r[c]) for c in cols) for r in df.collect()
    )
    out[name] = {"cols": cols, "rows": rows}
print("ROWS " + json.dumps(out))
"""


def run(root: str, sf_dir: str, names: list[str]) -> dict:
    env = dict(os.environ)
    res = subprocess.run(
        [sys.executable, "-c", RUNNER, root, sf_dir, *names],
        capture_output=True,
        text=True,
        env=env,
    )
    for line in res.stdout.splitlines():
        if line.startswith("ROWS "):
            return json.loads(line[5:])
    print(res.stdout[-3000:], file=sys.stderr)
    print(res.stderr[-3000:], file=sys.stderr)
    raise SystemExit(f"runner failed for {root}")


def main() -> None:
    base, sf_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    new = run(here, sf_dir, names)
    old = run(base, sf_dir, names)
    ok = True
    for name in names:
        same_cols = old[name]["cols"] == new[name]["cols"]
        same_rows = old[name]["rows"] == new[name]["rows"]
        print(
            f"{name}: cols_match={same_cols} rows_match={same_rows} "
            f"(n={len(new[name]['rows'])} vs {len(old[name]['rows'])})"
        )
        ok = ok and same_cols and same_rows
    print("IDENTICAL" if ok else "DIVERGED")


if __name__ == "__main__":
    main()
