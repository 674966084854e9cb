"""Streamed-sketch property tests: each sketch query's merged on-disk
partials must equal the batch sketch, checked on the ACTUAL per-batch
partials the streaming query leaves behind (a genuine >1-batch split),
against the batch query or an INDEPENDENT plain-Python twin that derives
every constant from the published construction, never from production
imports (the HLL 2x-bias lesson: a twin that imports the production
numerator can only check self-consistency).

- Count-Min: SUM-merge of (row, bucket) counters == the batch sketch.
- Bloom: OR-merge of (lane, bits) == the batch-built filter, no false
  negatives.
- MinHash: element-wise MIN-merge of per-doc signatures == the batch
  signatures, per-DOC cross-batch fragments, candidate-set equality
  against minhash_lsh_pairs and a Python twin (md5-seeded universal-hash
  mix over word-3-gram shingles).
- KMV: k-min-of-union == the batch sketch and a Python twin.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F


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


def _kmv_scratch():
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _SCRATCH,
    )

    return _SCRATCH / (Path(SF_DIR).name + "_kmv")


# --- Count-Min and Bloom (sum and OR merges) --------------------------------


def test_stream_cms_merged_equals_batch_sketch(spark):
    """Split-invariance, checked on the ACTUAL partials the streaming
    query leaves behind: SUM-merging the per-batch (r, bucket) counter
    partials must reproduce the batch sketch computed in one pass —
    and the served estimates never undercount."""
    from pathlib import Path

    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _SCRATCH,
    )
    from quant_market_data_pipeline_spark.queries.textprep import (
        _CMS_ROWS,
        cms_bucket_expr,
    )
    from quant_market_data_pipeline_spark.sources.tables import load_table

    q = load_all()["stream_countmin_e2e"]
    rows = q.spark(spark, SF_DIR).collect()
    assert rows and all(r.overestimate >= 0 for r in rows)
    assert all(
        r.cms_estimate == r.exact_count + r.overestimate for r in rows
    )

    partials = spark.read.parquet(
        str(_SCRATCH / (Path(SF_DIR).name + "_cms") / "cms")
    )
    assert partials.select("batch_id").distinct().count() > 1  # real split
    merged = {
        (r.r, r.bucket): r.c
        for r in partials.groupBy("r", "bucket")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    ev = load_table(spark, "events", SF_DIR).select(
        F.col("user_id").cast("string").alias("w")
    )
    batch = {}
    for r in range(_CMS_ROWS):
        for row in (
            ev.select(cms_bucket_expr(r, F.col("w")).alias("bucket"))
            .groupBy("bucket")
            .count()
            .collect()
        ):
            batch[(r, row.bucket)] = row["count"]
    assert merged == batch


def test_stream_bloom_or_merge_and_no_false_negatives(spark):
    """OR-merge invariance on the actual partials + the Bloom
    invariant: members NEVER fail the filter."""
    from pathlib import Path

    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.queries.relational import (
        _BF_LANE_BITS,
        bf_pos_expr,
    )
    from quant_market_data_pipeline_spark.queries.streaming_e2e import (
        _SBF_BITS,
        _SBF_K,
        _SCRATCH,
    )
    from quant_market_data_pipeline_spark.sources.tables import load_table

    q = load_all()["stream_bloom_e2e"]
    row = q.spark(spark, SF_DIR).collect()[0]
    assert row.n_false_neg == 0
    assert row.n_bloom_pass == row.n_member + row.n_false_pos
    assert row.n_probes == 2 * row.n_member
    assert 0.0 < row.fill_ratio < 1.0

    partials = spark.read.parquet(
        str(_SCRATCH / (Path(SF_DIR).name + "_bloom") / "bloom")
    )
    assert partials.select("batch_id").distinct().count() > 1
    merged = {
        r.lane: r.bits
        for r in partials.groupBy("lane")
        .agg(F.bit_or("bits").alias("bits"))
        .collect()
    }
    ev = load_table(spark, "events", SF_DIR)
    batch = {
        r.lane: r.bits
        for r in ev.select(
            F.explode(
                F.array(
                    *[
                        bf_pos_expr(r, F.col("user_id"), _SBF_BITS)
                        for r in range(_SBF_K)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .select(
            F.floor(F.col("pos") / _BF_LANE_BITS).cast("int").alias("lane"),
            F.expr(
                f"shiftleft(1L, cast(pos % {_BF_LANE_BITS} as int))"
            ).alias("bit"),
        )
        .groupBy("lane")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    }
    assert merged == batch


# --- MinHash (element-wise MIN merge) ---------------------------------------


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


# --- KMV (k-min-of-union order-statistic merge) -----------------------------


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
