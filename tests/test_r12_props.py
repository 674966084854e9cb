"""Round-12 property tests (the streamed MinHash and KMV tests live in
tests/test_stream_sketches.py).

snm_neardup_pairs_2pass — multi-pass sorted-neighborhood dedup: each
planted family (truncation = prefix preserved, re-rendering = suffix
preserved) is reachable by exactly one sort key, pinned per-pair via the
(pass1, pass2, family) flags, with the Jaccard values re-derived by an
independent Python twin.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"


def _shingles(tokens: list[str]) -> set[str]:
    return {" ".join(tokens[i : i + 3]) for i in range(len(tokens) - 2)}


# --- 2-pass SNM ------------------------------------------------------------


def _py_jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


@pytest.fixture(scope="module")
def snm2(spark):
    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.sources.tables import load_table

    rows = (
        load_all()["snm_neardup_pairs_2pass"].spark(spark, SF_DIR).collect()
    )
    docs = {
        r.doc_id: (r.text, r.source)
        for r in load_table(spark, "documents", SF_DIR).collect()
    }
    return rows, docs


def _toks(docs: dict, off: int, doc_id: int) -> list[str]:
    text, source = docs[doc_id % off]
    if doc_id < off:
        return text.lower().split()
    if doc_id < 2 * off:
        base = text.lower().split()
        return base[: max(5, len(base) - 10)]
    return f"{source} feed :: {text}".lower().split()


def test_snm_2pass_family_reachability(snm2):
    """The measured multi-pass claim: truncation twins are found by the
    prefix-key pass, re-rendered twins by the suffix-key pass — each
    family reachable by exactly one key, modulo rank displacement."""
    rows, docs = snm2
    off = max(docs) + 1
    pair = {(r.doc_lo, r.doc_hi): r for r in rows}
    trunc_found = [
        pair[(i, i + off)] for i in docs if (i, i + off) in pair
    ]
    rr_found = [
        pair[(i, i + 2 * off)] for i in docs if (i, i + 2 * off) in pair
    ]
    # both families substantially recovered at this corpus
    assert len(trunc_found) / len(docs) > 0.8
    assert len(rr_found) / len(docs) > 0.8
    # family labels correct by id-range construction
    assert all(r.family == "truncation" for r in trunc_found)
    assert all(r.family == "rerender" for r in rr_found)
    # each family rides its own pass (accidental other-pass adjacency
    # is possible for block-mates, displacement can cost a few)
    assert sum(1 for r in trunc_found if r.pass1) / len(trunc_found) > 0.9
    assert sum(1 for r in rr_found if r.pass2) / len(rr_found) > 0.9
    # the datapoint that prices the second pass: the prefix key alone
    # (any number of pass-1 reruns) cannot see re-rendered twins
    assert sum(1 for r in rr_found if r.pass1) / len(rr_found) < 0.2


def test_snm_2pass_jaccard_matches_python_twin(snm2):
    rows, docs = snm2
    off = max(docs) + 1
    for r in rows[:80]:
        a = _shingles(_toks(docs, off, r.doc_lo))
        b = _shingles(_toks(docs, off, r.doc_hi))
        want = round(_py_jaccard(a, b), 6)
        assert r.jaccard == pytest.approx(want, abs=1e-6), (
            r.doc_lo,
            r.doc_hi,
        )
        assert r.jaccard >= 0.4
        assert r.doc_lo < r.doc_hi
