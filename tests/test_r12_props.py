"""Round-12 property tests.

stream_minhash_e2e — the fifth streamed sketch (element-wise MIN merge):
merged==batch pinned on the ACTUAL on-disk partials, a genuine >1-batch
split with per-DOC cross-batch fragments, candidate-set equality against
the batch minhash_lsh_pairs, and an INDEPENDENT plain-Python twin of the
merged signatures that derives every constant from the published
construction (md5-seeded universal-hash mix over word-3-gram shingles) —
never from production imports (the r10 HLL 2x-bias lesson).

snm_neardup_pairs_2pass — multi-pass sorted-neighborhood dedup: each
planted family (truncation = prefix preserved, re-rendering = suffix
preserved) is reachable by exactly one sort key, pinned per-pair via the
(pass1, pass2, family) flags, with the Jaccard values re-derived by an
independent Python twin.
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"


# --- independent MinHash twin (published construction, no production
# imports): P = largest prime below 2^30; a_i/b_i md5-derived; base =
# 60-bit md5('mh|'+shingle) mod P; slot i = min((a_i*base + b_i) mod P)
_P = 1073741789


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _mix_consts(k: int = 16) -> list[tuple[int, int]]:
    return [
        (_h60(f"mh_a|{i}") % (_P - 1) + 1, _h60(f"mh_b|{i}") % _P)
        for i in range(k)
    ]


def _py_signature(shingles: set[str]) -> list[int]:
    bases = [_h60(f"mh|{sh}") % _P for sh in shingles]
    return [
        min((a * b0 + b) % _P for b0 in bases)
        for a, b in _mix_consts()
    ]


def _shingles(tokens: list[str]) -> set[str]:
    return {" ".join(tokens[i : i + 3]) for i in range(len(tokens) - 2)}


def _mh_scratch():
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _SCRATCH,
    )

    return _SCRATCH / (Path(SF_DIR).name + "_mh")


def test_stream_minhash_merged_equals_batch_and_candidates(spark):
    """MIN-merge of the actual per-batch signature partials must equal
    the batch signatures EXACTLY, the landing must split docs across
    batches (else the merge is vacuous), and the candidate set served
    from merged signatures must equal the batch query's."""
    from quant_market_data_pipeline_spark.llm.dedup import (
        minhash_signatures,
    )
    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.queries.llm import (
        lsh_corpus_shingled,
    )

    reg = load_all()
    stream_pairs = {
        (r.doc_lo, r.doc_hi)
        for r in reg["stream_minhash_e2e"].spark(spark, SF_DIR).collect()
    }

    partials = spark.read.parquet(str(_mh_scratch() / "sigs"))
    # a real split: >1 micro-batch, and docs whose partials span batches
    assert partials.select("batch_id").distinct().count() > 1
    multi_batch_docs = (
        partials.groupBy("doc_id")
        .agg(F.countDistinct("batch_id").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert multi_batch_docs > 0

    merged = partials.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(16)]
    )
    batch = minhash_signatures(lsh_corpus_shingled(spark, SF_DIR))
    assert merged.exceptAll(batch).count() == 0
    assert batch.exceptAll(merged).count() == 0

    batch_pairs = {
        (r.doc_lo, r.doc_hi)
        for r in reg["minhash_lsh_pairs"].spark(spark, SF_DIR).collect()
    }
    assert stream_pairs == batch_pairs


def test_stream_minhash_oracle_is_the_batch_oracle():
    """ONE SQL for both queries — the streamed and batch candidate sets
    cannot drift apart at the oracle layer."""
    from quant_market_data_pipeline_spark.queries import load_all

    reg = load_all()
    assert (
        reg["stream_minhash_e2e"].oracle == reg["minhash_lsh_pairs"].oracle
    )


def test_stream_minhash_merged_matches_python_twin(spark):
    """Merged signatures vs an independent Python reimplementation of
    the published mix family for a sample of docs (originals AND planted
    30-token-prefix twins)."""
    from quant_market_data_pipeline_spark.sources.tables import load_table

    merged = {
        r.doc_id: [r[f"h{i}"] for i in range(16)]
        for r in spark.read.parquet(str(_mh_scratch() / "sigs"))
        .groupBy("doc_id")
        .agg(*[F.min(f"h{i}").alias(f"h{i}") for i in range(16)])
        .collect()
    }
    docs = {
        r.doc_id: r.text.split()
        for r in load_table(spark, "documents", SF_DIR).collect()
    }
    n = max(docs) + 1
    sample = sorted(docs)[:10] + [d + n for d in sorted(docs)[:10]]
    for doc_id in sample:
        toks = docs[doc_id] if doc_id < n else docs[doc_id - n][:30]
        sh = _shingles(toks)
        if not sh:
            assert doc_id not in merged
            continue
        assert merged[doc_id] == _py_signature(sh), f"doc {doc_id}"


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


# --- streamed KMV (k-min-of-union order-statistic merge) --------------------


def test_stream_kmv_merged_equals_batch_and_python_twin(spark):
    """The k-min-of-union merge must reproduce the batch sketch EXACTLY
    (set equality of retained hashes per type, pinned on the actual
    on-disk partials), the landing must split types across >1 batch,
    and the served estimates must match an independent plain-Python
    reimplementation of the published KMV construction (k and the
    (k-1)*2^52 numerator re-derived here, never imported)."""
    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.sources.tables import load_table

    rows = load_all()["stream_kmv_e2e"].spark(spark, SF_DIR).collect()
    assert rows
    out = {r.event_type: r for r in rows}

    scratch = _kmv_scratch()
    partials = spark.read.parquet(str(scratch / "kmv"))
    assert partials.select("batch_id").distinct().count() > 1
    multi = (
        partials.groupBy("event_type")
        .agg(F.countDistinct("batch_id").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert multi > 0

    # independent python twin: k, numerator, hash all re-derived
    K = 64
    NUM = float((K - 1) << 52)
    ev = load_table(spark, "events", SF_DIR).select(
        "user_id", "event_type"
    ).collect()
    by_type: dict[str, set[int]] = {}
    for r in ev:
        by_type.setdefault(r.event_type, set()).add(r.user_id)
    merged = {
        (r.event_type, r.hv)
        for r in partials.select("event_type", "hv").distinct().collect()
    }
    for etype, uids in by_type.items():
        hvs = sorted(
            int(hashlib.md5(str(u).encode()).hexdigest()[:13], 16)
            for u in uids
        )
        sketch = hvs[:K]
        est = float(len(sketch)) if len(sketch) < K else NUM / sketch[-1]
        r = out[etype]
        assert r.exact_users == len(uids)
        assert r.kmv_est == pytest.approx(round(est, 4), abs=1e-9)
        assert r.rel_err == pytest.approx(
            round(abs(est - len(uids)) / len(uids), 6), abs=1e-9
        )
        assert r.rel_err < 0.5
        # merged retained set per type must CONTAIN the batch k-min
        # (k-min-of-union property) — the read-out re-ranks to <= k
        merged_type = sorted(
            hv for (t, hv) in merged if t == etype
        )[:K]
        assert merged_type == sketch


def _kmv_scratch():
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _SCRATCH,
    )

    return _SCRATCH / (Path(SF_DIR).name + "_kmv")
