"""Correctness-priority order of the query registry.

load_all() lists TOUCHED first, then every other query stalest first:
by the round of its last PASSING CORRECTNESS_r*.json verdict (never
verified first), ties broken by md5("r{N}:" + name) with N the round
after the newest artifact.  The rules are checked on synthetic
artifacts; the last test checks the order the committed artifacts give.
"""

from __future__ import annotations

import hashlib
import json

PASS = {"rows_match": True, "hash_match": True, "spark_rows": 3, "err": None}


def _write(root, n: int, doc) -> None:
    (root / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(doc))


def test_only_passing_verdicts_reset_staleness(tmp_path):
    from quant_market_data_pipeline_spark.queries import last_verified_rounds

    names = ["failed", "errored", "not_dict", "rows_only", "rows_only_no_rows"]
    _write(tmp_path, 1, {n: PASS for n in names})
    _write(tmp_path, 2, {
        # strict compare ran and mismatched
        "failed": {"rows_match": True, "hash_match": False,
                   "spark_rows": 3, "err": None},
        # the query raised
        "errored": {"hash_match": None, "spark_rows": None,
                    "err": "AnalysisException: boom"},
        "not_dict": "skipped",
        # rows-only check (no oracle) that ran and produced a row count
        "rows_only": {"hash_match": None, "spark_rows": 7,
                      "err": "no_oracle"},
        "rows_only_no_rows": {"hash_match": None, "spark_rows": None,
                              "err": "no_oracle"},
    })
    # an artifact that is not a name -> verdict map is ignored
    _write(tmp_path, 3, ["rows_only"])
    seen = last_verified_rounds(str(tmp_path))
    assert seen == {
        "failed": 1,
        "errored": 1,
        "not_dict": 1,
        "rows_only": 2,
        "rows_only_no_rows": 1,
    }


def test_order_is_touched_then_never_verified_then_stalest(tmp_path):
    from quant_market_data_pipeline_spark.queries import priority_order

    _write(tmp_path, 1, {n: PASS for n in ("a", "b", "c", "d", "t")})
    _write(tmp_path, 2, {"d": PASS, "e": PASS})
    names = ["a", "b", "c", "d", "e", "t", "new1", "new2"]
    order = priority_order(
        names, repo_root=str(tmp_path), touched=["t", "unregistered"]
    )

    def by_tie(group):
        return sorted(
            group, key=lambda n: hashlib.md5(f"r3:{n}".encode()).hexdigest()
        )

    assert order == (
        ["t"]
        + by_tie(["new1", "new2"])
        + by_tie(["a", "b", "c"])
        + by_tie(["d", "e"])
    )


def test_order_without_artifacts_is_touched_then_md5(tmp_path):
    from quant_market_data_pipeline_spark.queries import priority_order

    names = ["x", "y", "z"]
    order = priority_order(names, repo_root=str(tmp_path), touched=["z"])
    rest = sorted(
        ["x", "y"], key=lambda n: hashlib.md5(f"r1:{n}".encode()).hexdigest()
    )
    assert order == ["z"] + rest


def test_committed_order_leads_with_touched_then_stalest():
    from quant_market_data_pipeline_spark.queries import (
        REGISTRY,
        TOUCHED,
        last_verified_rounds,
        load_all,
    )

    order = list(load_all())
    assert len(order) == len(set(order)) == len(REGISTRY)
    assert set(order) == set(REGISTRY)
    assert set(TOUCHED) <= set(REGISTRY), set(TOUCHED) - set(REGISTRY)
    assert order[: len(TOUCHED)] == TOUCHED
    seen = last_verified_rounds()
    rounds = [seen.get(n, -1) for n in order[len(TOUCHED):]]
    assert rounds == sorted(rounds)
