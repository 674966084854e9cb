"""minhash_recall_audit's exact leg joins on a 60-bit md5-prefix shingle
hash, not on the shingle string.  The registered doc states the
collision bound; this pins that on every local fixture the hash is
injective over the shingles the oracle builds (DuckDB only, no Spark)."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_shingle_hash_is_injective_on_fixture(sf):
    from check_oracle import duck_con
    from conftest import SF_DIR

    from quant_market_data_pipeline_spark.queries import load_all

    oracle = load_all()["minhash_recall_audit"].oracle
    # the oracle's own corpus/sh/shh CTEs, cut before the first consumer
    ctes = oracle[: oracle.index("), inter AS (")]
    n_sh, n_h = duck_con(os.path.join(os.path.dirname(SF_DIR), sf)).execute(
        ctes + ") SELECT (SELECT count(DISTINCT sh) FROM sh), "
        "(SELECT count(DISTINCT h) FROM shh)"
    ).fetchone()
    assert n_sh > 0
    assert n_h == n_sh
