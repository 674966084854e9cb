"""Round-11 property tests: KMV/theta-sketch set operations and the SNM
candidate family (the streamed Count-Min and Bloom tests live in
tests/test_stream_sketches.py) — each checked
against an INDEPENDENT plain-Python twin that derives every constant
from the published construction, never from production imports (the
r10 lesson: a twin that imports the production numerator can only
check self-consistency, which is exactly how the HLL 2x bias shipped).
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

# Independent KMV twin constants: k=64 minimum values over a 52-bit
# (13 hex chars) md5 prefix; estimator (k-1)*2^52/theta (Bar-Yossef et
# al. 2002); theta-sketch intersection: count common hashes strictly
# below min(theta_a, theta_b), scaled by 2^52/theta (DataSketches).
_TK = 64
_TSPACE = 1 << 52


def _h52(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:13], 16)


def _py_kmv(values) -> tuple[list[int], float]:
    """(sketch hashes ascending, cardinality estimate)."""
    hs = sorted({_h52(v) for v in values})
    sk = hs[:_TK]
    if len(sk) < _TK:
        return sk, float(len(sk))
    return sk, (_TK - 1) * _TSPACE / sk[-1]


def _py_theta_intersect(sk_a: list[int], sk_b: list[int]) -> float:
    theta = min(sk_a[-1], sk_b[-1]) if (
        len(sk_a) == _TK and len(sk_b) == _TK
    ) else _TSPACE
    common = len({h for h in sk_a if h < theta} & set(sk_b))
    return common * _TSPACE / theta


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**12),
        min_size=1,
        max_size=_TK - 1,
    )
)
def test_kmv_exact_branch_is_exact(values):
    # n < k: the sketch IS the set, the estimate must equal the exact
    # distinct count (md5 collisions at 2^52 are ~n^2/2^53: ignorable)
    _, est = _py_kmv(values)
    assert est == float(len(set(values)))


def test_kmv_estimator_accuracy_raw_branch():
    # n >> k: the (k-1)/theta estimator's rel std err is ~1/sqrt(k-2)
    # ~= 12.7%; assert a ~4-sigma bound on a fixed large input.  This
    # bound is derived from the construction, not from production — it
    # fails if the numerator or the hash-space scaling is off by any
    # power of two (the HLL-bias failure mode).
    n = 20000
    _, est = _py_kmv(range(n))
    assert abs(est - n) / n < 0.5


def test_kmv_sketch_is_permutation_and_dup_invariant():
    vals = list(range(1000))
    sk1, est1 = _py_kmv(vals)
    sk2, est2 = _py_kmv(list(reversed(vals)) + vals)  # dups + reorder
    assert sk1 == sk2 and est1 == est2


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=200, max_value=2000), st.data())
def test_kmv_theta_intersection_tracks_true_overlap(n, data):
    # two sets with a known overlap fraction: the theta intersection
    # must land within a loose multiple of its standard error (the
    # estimator is unbiased; per-draw noise scales like n_inter/sqrt(k))
    frac = data.draw(
        st.floats(min_value=0.3, max_value=0.9, allow_nan=False)
    )
    a = list(range(n))
    b = list(range(int(n * (1 - frac)), int(n * (1 - frac)) + n))
    true_inter = len(set(a) & set(b))
    sk_a, _ = _py_kmv(a)
    sk_b, _ = _py_kmv(b)
    est = _py_theta_intersect(sk_a, sk_b)
    # 5 sigma with sigma ~ (n_union/k)*sqrt(k) = n_union/sqrt(k)
    n_union = len(set(a) | set(b))
    assert abs(est - true_inter) <= 5.0 * n_union / (_TK**0.5) + 1


def test_kmv_spark_estimate_matches_twin(spark):
    # the production expression path (_kmv_est_expr over the ranked
    # hash frame) must reproduce the twin's sketch AND estimate on both
    # branches — same hash, same theta, same one double division
    from pyspark.sql import Window

    from quant_market_data_pipeline_spark.queries.relational import (
        _kmv_est_expr,
    )

    for n in (20, 500):  # exact branch, estimator branch
        vals = [(f"u{i}",) for i in range(n)]
        df = spark.createDataFrame(vals, "v string")
        hv = df.select(
            F.conv(F.substring(F.md5("v"), 1, 13), 16, 10)
            .cast("long")
            .alias("hv")
        ).distinct()
        ranked = (
            hv.withColumn(
                "rn", F.row_number().over(Window.orderBy("hv"))
            )
            .filter(F.col("rn") <= _TK)
        )
        got = ranked.agg(
            _kmv_est_expr(F.count(F.lit(1)), F.max("hv")).alias("e")
        ).collect()[0]["e"]
        sk, want = _py_kmv([f"u{i}" for i in range(n)])
        got_sk = [r.hv for r in ranked.orderBy("hv").collect()]
        assert got_sk == sk
        assert got == pytest.approx(want, rel=0, abs=0)


def test_kmv_set_ops_audit_invariants(spark):
    from quant_market_data_pipeline_spark.queries import load_all

    q = load_all()["kmv_set_ops_audit"]
    rows = q.spark(spark, SF_DIR).collect()
    assert len(rows) == 6  # 7 fixture years -> 6 adjacent pairs
    for r in rows:
        # exact identities
        assert r.exact_union == r.exact_a + r.exact_b - r.exact_inter
        # estimates live, positive, and within the audited error
        for est, exact in (
            (r.kmv_a, r.exact_a),
            (r.kmv_b, r.exact_b),
            (r.kmv_union, r.exact_union),
            (r.kmv_inter, r.exact_inter),
        ):
            assert est > 0
            assert abs(est - exact) / exact < 0.5
        assert r.rel_err_inter < 0.5


def _py_jaccard(tokens_a: list[str], tokens_b: list[str]) -> float:
    sh = lambda t: {
        " ".join(t[i : i + 3]) for i in range(len(t) - 2)
    }
    a, b = sh(tokens_a), sh(tokens_b)
    return len(a & b) / len(a | b)


def test_snm_candidates_bounded_and_twins_found(spark):
    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.sources.tables import load_table

    q = load_all()["snm_neardup_pairs"]
    out = q.spark(spark, SF_DIR)
    n_docs = load_table(spark, "documents", SF_DIR).count()
    rows = out.collect()
    # candidates are <= (w-1) * corpus size BY CONSTRUCTION (corpus =
    # docs + twins = 2n); the emitted pairs are a filtered subset
    assert 0 < len(rows) <= 3 * 2 * n_docs
    assert all(r.doc_lo < r.doc_hi for r in rows)
    assert all(1 <= r.window_dist <= 3 for r in rows)
    assert all(r.jaccard >= 0.4 for r in rows)
    # planted twins share their 40-char key prefix, so they sort into
    # the same block at adjacent-or-near ranks: the single pass must
    # recover the large majority (organic docs with the same prefix
    # can push a twin past the window — the documented SNM trade)
    pair_set = {(r.doc_lo, r.doc_hi) for r in rows}
    found = sum(
        1 for i in range(n_docs) if (i, i + n_docs) in pair_set
    )
    assert found / n_docs > 0.8


def test_snm_jaccard_matches_python_twin(spark):
    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.sources.tables import load_table

    q = load_all()["snm_neardup_pairs"]
    rows = q.spark(spark, SF_DIR).limit(50).collect()
    docs = {
        r.doc_id: r.text.lower().split()
        for r in load_table(spark, "documents", SF_DIR).collect()
    }
    n = max(docs) + 1

    def toks(doc_id):
        if doc_id < n:
            return docs[doc_id]
        base = docs[doc_id - n]
        return base[: max(5, len(base) - 10)]

    for r in rows:
        want = round(_py_jaccard(toks(r.doc_lo), toks(r.doc_hi)), 6)
        assert r.jaccard == pytest.approx(want, abs=1e-6)


def test_zorder_morton_interleave_twin(spark):
    # the Morton code expression must equal an independent bit-interleave
    from quant_market_data_pipeline_spark.queries.pipeline_ops import (
        _z_expr,
    )

    def py_morton(xb: int, yb: int) -> int:
        z = 0
        for i in range(8):
            z |= ((xb >> i) & 1) << (2 * i)
            z |= ((yb >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (255, 255), (1, 0), (0, 1), (170, 85), (200, 3)]
    df = spark.createDataFrame(cases, "xb int, yb int")
    got = {
        (r.xb, r.yb): r.z
        for r in df.select(
            "xb", "yb", _z_expr(F.col("xb"), F.col("yb")).alias("z")
        ).collect()
    }
    assert got == {(x, y): py_morton(x, y) for x, y in cases}


def test_zorder_audit_prunes_better_than_linear(spark):
    from quant_market_data_pipeline_spark.queries import load_all

    q = load_all()["zorder_skipping_audit"]
    rows = {r.layout: r for r in q.spark(spark, SF_DIR).collect()}
    assert set(rows) == {"linear", "zorder"}
    for r in rows.values():
        # zone maps never lose rows: every matching row is in a
        # scanned file, and scanning is bounded by the corpus
        assert r.rows_matched <= r.rows_scanned <= r.rows_total
        assert 0 < r.files_scanned <= r.n_files
        assert r.read_amplification >= 1.0
    # the claim the audit exists to measure: the 2D box predicate
    # scans fewer rows under the Morton layout than under the
    # single-column linear sort
    assert (
        rows["zorder"].rows_scanned < rows["linear"].rows_scanned
    )
    assert (
        rows["zorder"].file_skip_ratio > rows["linear"].file_skip_ratio
    )


def test_snm_misses_only_key_displaced_eligible_twins(spark):
    """The grown-corpus diagnosis, pinned at fixture scale: against
    the threshold-ELIGIBLE ground truth (twins whose exact 3-gram
    Jaccard clears the query's own 0.4 threshold) the single pass may
    miss a twin ONLY through the one documented mode — its 40-char
    key is shared by more docs than the window spans, so the twin is
    sorted out of reach (at sf0.001 one 8+-doc key-collision cluster
    displaces 4 twins: 445/449 = 0.991; at grown sf1.0 the organic
    vocabulary makes 40-char collisions rare and recall is 1.0).  Any
    miss with an uncrowded key would be a real bug."""
    from quant_market_data_pipeline_spark.llm.hashing import (
        word_shingles,
        word_tokens,
    )
    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.queries.llm import (
        _SNM_KEY_LEN,
        _SNM_W,
    )
    from quant_market_data_pipeline_spark.sources.tables import load_table

    d = load_table(spark, "documents", SF_DIR)
    n = d.count()
    toks = d.select(
        "doc_id", word_tokens(F.lower("text")).alias("tokens")
    )
    twin_tokens = F.slice(
        "tokens", 1, F.greatest(F.lit(5), F.size("tokens") - 10)
    )
    tw = toks.select(
        "doc_id",
        F.array_distinct(word_shingles(F.col("tokens"))).alias("sa"),
        F.array_distinct(word_shingles(twin_tokens)).alias("sb"),
        F.substring(
            F.concat_ws(" ", "tokens"), 1, _SNM_KEY_LEN
        ).alias("key"),
    )
    ni = F.size(F.array_intersect("sa", "sb"))
    ss = F.size("sa") + F.size("sb")
    eligible = {
        r.doc_id: r.key
        for r in tw.select(
            "doc_id", "key", F.round(ni / (ss - ni), 6).alias("j")
        )
        .filter(F.col("j") >= 0.4)
        .collect()
    }
    # corpus key populations (originals + twins share keys for long
    # docs; short docs diverge — count both sides)
    key_pop: dict[str, int] = {}
    for r in (
        toks.select(
            F.substring(
                F.concat_ws(" ", "tokens"), 1, _SNM_KEY_LEN
            ).alias("key")
        )
        .unionByName(
            toks.select(
                F.substring(
                    F.concat_ws(" ", twin_tokens), 1, _SNM_KEY_LEN
                ).alias("key")
            )
        )
        .groupBy("key")
        .count()
        .collect()
    ):
        key_pop[r.key] = r["count"]

    out = load_all()["snm_neardup_pairs"].spark(spark, SF_DIR)
    found = {
        r.doc_lo
        for r in out.filter(F.col("doc_hi") - F.col("doc_lo") == n)
        .collect()
    }
    assert eligible, "fixture must carry eligible twins"
    missed = set(eligible) - found
    # recall floor vs the eligible ground truth
    assert len(missed) / len(eligible) < 0.02
    # and every miss must be key-displacement: more same-key docs
    # than the window can bridge
    for doc_id in missed:
        assert key_pop[eligible[doc_id]] > _SNM_W, (
            doc_id,
            eligible[doc_id],
            key_pop[eligible[doc_id]],
        )
