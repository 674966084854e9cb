"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line as the very last stdout line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

and writes the FULL result document (per-run samples, probe per-query
timings, deltas vs the previous round) to ``BENCH_FULL_LATEST.json`` at
the repo root.  The split exists because the driver records a bounded
stdout tail: round 5's single fat line was clipped mid-key (``parsed:
null``), losing the headline number.  The compact line carries everything
the round-over-round compare needs (warm medians, cold firsts, regression
flags, probe totals); per-query probe detail lives in the file.

``value`` is the summed wall-clock of the headline queries, each executed
to completion with a count-collapsing action; per-query warm seconds are
the MEDIAN OF 3 steady-state runs (single-run timing flagged a +29%
"regression" on untouched code in r5 — one GC pause is enough), letting
the judge compare operator families against BASELINE.md.

Dispersion-proof regression gate (round 7): medians alone did not
immunize the flag — the r6 driver run re-flagged both ANN queries while
a builder run 30 minutes earlier showed them flat.  Three artifact-level
defenses now rule environmental flags in or out without trusting anyone's
narrative: (a) ``queries_min``/``queries_spread`` land in the compact
summary and flags compare MIN of 3 against the previous round's min —
contention can inflate a median but cannot deflate a minimum; (b) every
run logs a normalized physical-plan fingerprint (``plan_fp``), so an AQE
plan flap is distinguishable from co-scheduled load by diffing artifacts;
(c) per-run samples stay in the full doc.  A flag now means: the FASTEST
of 3 runs regressed >20% on an unchanged plan — a real cost.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_pair_zscore",
    "bars_5min_ohlcv",
    "missing_buckets_audit",
    "asof_join_backward",
    "pricing_summary",
    "shipping_priority",
    "regional_revenue",
    "dedup_exact_docs",
    "text_stats",
    # LLM extension headliners (registered in later rounds keep working
    # automatically if present).  Similarity is represented by the SCALE
    # paths (bucketed LSH / IVF); exact O(n*q) kNN stays a correctness
    # baseline only (tests/test_mllib_interop.py uses it as the recall
    # anchor) and is deliberately NOT benched.
    "minhash_lsh_pairs",
    "ann_lsh_topk",
    "ann_lsh_mt_topk",
    # r11: the multi-probe tier (one build + 3 probes, target-16 planes)
    "ann_lsh_mp_topk",
    "ann_ivf_topk",
    # Hierarchical rollup headliner: hours derive from the 5-min bar
    # aggregate, not from raw ticks — the continuous-aggregate pattern.
    "bars_rollup_1h",
    # Near-dup headliner is the LOSSLESS banded path (4x15-bit bands,
    # pigeonhole-complete at hamming<=3).  The 32-bit prefix-blocked
    # variant stays registered as an ablation/comparison query only —
    # its 16-bit blocking is lossy AND loose (301k candidates vs 2.4k
    # at sf0.1; PLANS.md) — and is deliberately NOT benched.
    "simhash60_neardup_pairs",
    # round-4c additions whose cost scales with the fact tables: the
    # pairwise-ECDF drift audit, the sweep-line concurrency rollup and
    # the tick-rule TCA report (two tick scans + dimension joins)
    "ks_source_drift",
    "peak_concurrency_daily",
    "vwap_slippage_tca",
]

# Document/embedding fixtures are <1 MiB even at sf0.1, so headline doc
# queries are fixed-overhead-dominated and perf work on them is invisible.
# The docscale probe replicates documents+embeddings x16 (new ids, same
# payload — replicas ARE realistic crawl dups) into a derived repo-local
# dir (other tables symlinked), then re-times the doc headliners there.
# Reported separately (docscale_queries/docscale_total) so the headline
# total stays round-over-round comparable.
DOCSCALE_FACTOR = 16
DOCSCALE = [
    "dedup_exact_docs",
    "text_stats",
    "minhash_lsh_pairs",
    "simhash60_neardup_pairs",
    "ann_lsh_topk",
    "ann_lsh_mt_topk",
    "ann_ivf_topk",
    # round-4c doc ops with linear scale paths — probed at x16 so their
    # cost moves with corpus volume, not fixture overhead
    "shingle_novelty",
    "feature_hashing_long",
    # round-7: the planted-PII redaction audit and cross-doc boilerplate
    # report are pure text scans — exactly the shape whose cost should
    # move 1:1 with corpus volume
    "pii_scrub_audit",
    "boilerplate_prefix_report",
    # round-7: exact-substring dedup — x16 replication makes EVERY gram
    # cross-doc duplicated, the worst case for the dup-set join, so the
    # probe stresses the collapse-before-exchange claim directly
    "dup_span_coverage",
    # round-7: both index-quality audits — their exact sides are bounded
    # by sample contracts (100 docs / 20 vectors), so cost must scale
    # with the CORPUS side only (sample x corpus candidates), never
    # quadratically
    "minhash_recall_audit",
    "ann_recall_audit",
    # late-r7: hard negatives share ann_lsh's capped-bucket shape (the
    # probe pins that the label filter does not reopen the in-bucket
    # quadratic); power iteration and the sampling table are one-pass
    # linear reductions to dimension-sized tails
    "hard_negative_mining",
    "pca_power_iteration",
    "unigram_negative_sampling_table",
    # matryoshka audit: sample-bounded exact sides like ann_recall_audit
    # — cost must move with the corpus side only
    "matryoshka_overlap_audit",
    # r8: the banding sweep shares the recall audits' sample contract
    # (candidates bounded by the 100-doc query side); the curriculum
    # plan's histogram quantiles and the dataset card are single-pass
    # corpus rollups, and the production-ANN recall audits inherit the
    # 20-vector exact-side bound
    "minhash_band_sweep",
    "curriculum_stage_plan",
    "dataset_card_by_source",
    "ann_mt_recall_audit",
    "ann_ivf_recall_audit",
    # r11: multi-probe single-table audit — same sample contract; its
    # x16 recall is the number that prices the probe-vs-table trade
    "ann_mp_recall_audit",
    # r9: the tuning sweep shares the recall audits' sample contract;
    # the CMS heavy-hitter audit, the rule-based quality pre-filter,
    # and the LSH search API are corpus-linear scans (search's query
    # side is a constant 5-doc frame — cost must move with the INDEX
    # side only)
    "ann_tuning_sweep",
    "countmin_heavy_hitters",
    "gopher_quality_flags",
    "minhash_search_topk",
    # r11: sorted-neighborhood dedup — candidates are (w-1)*n by
    # construction, so the x16 probe pins the one claim that matters:
    # cost moves linearly with the corpus (block windows + one
    # equi-join), even when replication makes every key collide
    "snm_neardup_pairs",
    # r12: the multi-pass variant — prices the second (suffix-key) sort
    # at scale; expected ~2x the single pass plus the 3rd corpus leg
    "snm_neardup_pairs_2pass",
    # r12: the PQ memory tier — encode pass cost and the two-stage
    # ADC/re-rank search at the x16 vector corpus, plus the composed
    # IVF+PQ index (the x16 recall prices the fixed-32-cell config
    # against the cells ~ sqrt(n) re-index law)
    "pq_reconstruction_report",
    "pq_adc_recall_audit",
    "ann_ivfpq_recall_audit",
    # r13: the trained-codebook tier and the adaptive (cells~sqrt(n),
    # refine cap = n_cand) composed index — the x16 datapoint re-
    # measured per round is the re-index law made a permanent gate
    "pq_trained_recall_audit",
    "ann_ivfpq_adaptive_recall_audit",
    # r13 (second half): the SQ8 tier — recall-without-re-rank priced
    # at the x16 corpus next to the PQ audits
    "sq8_recall_audit",
]

# Recall-audit queries in the docscale probe: besides the wall time, the
# probe records the MEASURED RECALL at the x16 corpus (round-8 judge
# stretch #8) — index quality typically degrades as a corpus grows
# around fixed probe budgets, and a config chosen at sf0.01 must show
# what it delivers when the corpus multiplies.  The result frames are
# sample-bounded (<= 100 rows), so collecting them is free.
DOCSCALE_RECALL = {
    "minhash_recall_audit",
    "ann_recall_audit",
    "ann_mt_recall_audit",
    "ann_ivf_recall_audit",
    "ann_mp_recall_audit",
    "ann_ivfpq_recall_audit",
    "ann_ivfpq_adaptive_recall_audit",
    "sq8_recall_audit",
}


def _micro_recall(name: str, rows: list) -> float | None:
    """Micro-averaged recall from a collected audit frame."""
    if name == "minhash_recall_audit":
        caught = [r["caught"] for r in rows]
        return round(sum(caught) / len(caught), 4) if caught else None
    hits = sum(r["n_hit"] for r in rows)
    total = sum(r["n_exact"] for r in rows)
    return round(hits / total, 4) if total else None


def _micro_recalls(rows: list) -> dict:
    """Micro-averaged recall for EVERY n_hit* column of an audit frame
    (the quantization audits report several tiers side by side:
    n_hit_adc_base / n_hit_adc_trained / n_hit_rr_trained / n_hit_adc /
    n_hit) — generic so new tiers land in the lane without a bench
    edit."""
    if not rows:
        return {}
    total = sum(r.get("n_exact", 0) for r in rows)
    if not total:
        return {}
    return {
        k.replace("n_hit", "recall", 1): round(
            sum(r[k] for r in rows) / total, 4
        )
        for k in rows[0]
        if k.startswith("n_hit")
    }


# CLUSTERED lane members (r14): the quantization menu re-priced on the
# planted-mixture fixture every round — flat+trained PQ, adaptive and
# residual IVF+PQ, the trained-coarse balance audit, and SQ8
CLUSTERED = [
    "pq_trained_recall_audit",
    "ann_ivfpq_adaptive_recall_audit",
    "ann_ivfpq_residual_recall_audit",
    "ann_ivfpq_trained_recall_audit",
    "sq8_recall_audit",
]

# Tick-side twin of the doc probe (round-4 judge directive): events is
# 2 MiB at sf0.1, so the tick headliners are fixed-overhead-dominated
# and a quadratic would be invisible.  Replicate events x16 (new
# event_ids; user_ids offset per replica so sessions MULTIPLY instead of
# lengthening — the realistic way load grows) and re-time the tick
# headliners.  A linear operator shows ~16x the data-bound cost; a
# superlinear one (e.g. an accidental single-partition window in the
# sweep line) blows past it.
TICKSCALE_FACTOR = 16
TICKSCALE = [
    "bars_5min_ohlcv",
    "missing_buckets_audit",
    "peak_concurrency_daily",
    "vwap_slippage_tca",
    "bars_rollup_1h",
    # round-7 microstructure/attribution ops: each is a single keyed
    # window/exchange over the tick fact — the probe pins that the
    # one-exchange claim holds when ticks multiply x16
    "vpin_toxicity",
    "bipower_jump_stats",
    "attribution_time_decay",
    # late-r7: all three reduce the tick fact once to a (symbol, day)
    # or day dimension and finish on the tail — cost must move with the
    # scan, window/exchange stays keyed
    "corwin_schultz_spread",
    "newey_west_tstat",
    "purged_kfold_splits",
    # r8 (judge stretch item): the remaining materialized-frame r7
    # queries — every query that builds a corpus/dimension frame now
    # has a scale datapoint
    "event_study_car",
    "min_variance_pair_weights",
    "stl_decomposition_daily",
    # r8 execution/signal-eval layer: all reduce ticks to the (symbol,
    # day) dimension first — probe pins that cost moves with the scan
    "ljung_box_returns",
    "ic_decay_horizons",
    "tail_dependence_pairs",
    "portfolio_turnover_cost",
    # the Arrow-boundary recursions: groups are calendar-bounded, so
    # x16 tick volume must move only the rollup, never the recursion
    "kalman_hedge_beta",
    "ewma_vol_riskmetrics",
    # r9: GARCH shares the recursions' calendar-bounded contract; the
    # Cornish-Fisher moments reduce the tick fact to the (symbol, day)
    # dimension before any math — probe pins both
    "garch_11_vol",
    "cornish_fisher_var",
    # r10: the from-scratch HLL — one pass + a <= 512-row register
    # merge per audited column; x16 ticks must move only the scan
    "hll_distinct_audit",
]


def _build_docscale_dir(spark, sf_dir: str) -> str:
    """Derive <repo>/.bench_scale/<sf>x{F}: documents/embeddings replicated
    DOCSCALE_FACTOR times with collision-free ids, all other tables
    symlinked to the source fixture dir.  Cached across runs."""
    from pyspark.sql import functions as F

    from quant_market_data_pipeline_spark.sources.tables import load_table

    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_scale",
        os.path.basename(sf_dir.rstrip("/")) + f"x{DOCSCALE_FACTOR}",
    )
    stamp = os.path.join(root, "_BUILT")
    if os.path.exists(stamp):
        return root
    os.makedirs(root, exist_ok=True)
    for fname in os.listdir(sf_dir):
        if fname.endswith(".parquet") and not fname.startswith(
            ("documents", "embeddings")
        ):
            dst = os.path.join(root, fname)
            if not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, fname), dst)
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(DOCSCALE_FACTOR - 1))
    ).alias("__r")
    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        src = load_table(spark, table, sf_dir)
        off = src.groupBy().agg(
            (F.max(id_col) + F.lit(1)).alias("__off")
        )
        scaled = (
            src.crossJoin(F.broadcast(off))
            .select("*", rep)
            .withColumn(id_col, F.col(id_col) + F.col("__r") * F.col("__off"))
            .drop("__r", "__off")
        )
        scaled.repartition(8).write.mode("overwrite").parquet(
            os.path.join(root, f"{table}.parquet")
        )
    with open(stamp, "w") as f:
        f.write(str(DOCSCALE_FACTOR))
    return root


def _build_tickscale_dir(spark, sf_dir: str) -> str:
    """Derive <repo>/.bench_scale/<sf>_ticks_x{F}: events replicated
    TICKSCALE_FACTOR times (collision-free event_ids, per-replica
    user_id offset, timestamps unchanged), every other table symlinked.
    Cached across runs."""
    from pyspark.sql import functions as F

    from quant_market_data_pipeline_spark.sources.tables import load_table

    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_scale",
        os.path.basename(sf_dir.rstrip("/")) + f"_ticks_x{TICKSCALE_FACTOR}",
    )
    stamp = os.path.join(root, "_BUILT")
    if os.path.exists(stamp):
        return root
    os.makedirs(root, exist_ok=True)
    for fname in os.listdir(sf_dir):
        if fname.endswith(".parquet") and not fname.startswith("events"):
            dst = os.path.join(root, fname)
            if not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, fname), dst)
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(TICKSCALE_FACTOR - 1))
    ).alias("__r")
    src = load_table(spark, "events", sf_dir)
    off = src.groupBy().agg(
        (F.max("event_id") + F.lit(1)).alias("__eoff"),
        (F.max("user_id") + F.lit(1)).alias("__uoff"),
    )
    scaled = (
        src.crossJoin(F.broadcast(off))
        .select("*", rep)
        .withColumn("event_id", F.col("event_id") + F.col("__r") * F.col("__eoff"))
        .withColumn("user_id", F.col("user_id") + F.col("__r") * F.col("__uoff"))
        .drop("__r", "__eoff", "__uoff")
    )
    scaled.repartition(16).write.mode("overwrite").parquet(
        os.path.join(root, "events.parquet")
    )
    with open(stamp, "w") as f:
        f.write(str(TICKSCALE_FACTOR))
    return root


# sf1.0-equivalent probe (round-6 judge stretch): one order-of-magnitude
# anchor above the sf0.1 headline numbers for the 5 most scale-critical
# queries.  Built by replicating the fact tables x10 with collision-free
# ids (same replication scheme as the doc/tick probes); each query runs
# ONCE (plans/codegen already warm from the sf0.1 runs) and reports the
# empirical scaling exponent alpha = log10(t_x10 / t_x1) — alpha <= 1 is
# linear-or-better, the shape the 100 TB story requires.
SF1_FACTOR = 10
SF1 = [
    "flagship_pair_zscore",
    "minhash_lsh_pairs",
    "simhash60_neardup_pairs",
    "ann_lsh_mt_topk",
    "ann_ivf_topk",
]


def _build_sf1_dir(spark, sf_dir: str) -> str:
    """Derive <repo>/.bench_scale/<sf>_sf1x{F}: events, documents and
    embeddings replicated SF1_FACTOR times (collision-free ids), every
    other table symlinked.  Cached across runs."""
    from pyspark.sql import functions as F

    from quant_market_data_pipeline_spark.sources.tables import load_table

    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_scale",
        os.path.basename(sf_dir.rstrip("/")) + f"_sf1x{SF1_FACTOR}",
    )
    stamp = os.path.join(root, "_BUILT")
    if os.path.exists(stamp):
        return root
    os.makedirs(root, exist_ok=True)
    scaled_tables = {
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for fname in os.listdir(sf_dir):
        if fname.endswith(".parquet") and not any(
            fname.startswith(t) for t in scaled_tables
        ):
            dst = os.path.join(root, fname)
            if not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, fname), dst)
    rep = F.explode(F.sequence(F.lit(0), F.lit(SF1_FACTOR - 1))).alias("__r")
    for table, id_cols in scaled_tables.items():
        src = load_table(spark, table, sf_dir)
        off = src.groupBy().agg(
            *[
                (F.max(c) + F.lit(1)).alias(f"__off_{c}")
                for c in id_cols
            ]
        )
        scaled = src.crossJoin(F.broadcast(off)).select("*", rep)
        for c in id_cols:
            scaled = scaled.withColumn(
                c, F.col(c) + F.col("__r") * F.col(f"__off_{c}")
            )
        scaled = scaled.drop("__r", *[f"__off_{c}" for c in id_cols])
        scaled.repartition(16).write.mode("overwrite").parquet(
            os.path.join(root, f"{table}.parquet")
        )
    with open(stamp, "w") as f:
        f.write(str(SF1_FACTOR))
    return root


def _bench_history() -> list[tuple[int, dict]]:
    """All recorded bench payloads, newest first.

    Primary source: ``bench_rounds.jsonl`` (one full compact per bench
    RUN, appended by this script — immune to the driver artifact's
    bounded stdout-tail, which truncated r7's line into parsed=null).
    Fallback/backfill: driver-recorded ``BENCH_r{N}.json``.  jsonl
    entries sort newer than every BENCH_r file (sequence keys offset by
    +1000) because they are written after them within a round.
    """
    import glob
    import re

    rounds: list[tuple[int, dict]] = []
    for path in glob.glob(os.path.join(os.path.dirname(__file__), "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = doc.get("parsed") or doc
        if not parsed.get("queries") and "tail" in doc:
            # driver-recorded benches wrap the JSON line in a `tail` blob
            try:
                tail = doc["tail"]
                parsed = json.loads(tail[tail.index('{"metric"'):])
            except (ValueError, json.JSONDecodeError):
                parsed = {}
        if parsed.get("queries") and not parsed.get("probe"):
            rounds.append((int(m.group(1)), parsed))
    jsonl = os.path.join(os.path.dirname(__file__), "bench_rounds.jsonl")
    try:
        with open(jsonl) as f:
            for line in f:
                try:
                    doc = json.loads(line)
                except json.JSONDecodeError:
                    continue
                # r12 (judge What's-wrong #1): mid-round PROBE runs are
                # tagged and NEVER become a comparison basis — the r11
                # regression gate silently compared itself to a slow-host
                # probe appended here, making regressions_over_20pct
                # vacuous and env_shift_vs_prev read 0.761 against the
                # wrong window.
                if doc.get("queries") and not doc.get("probe"):
                    rounds.append((1000 + int(doc.get("seq", 0)), doc))
    except OSError:
        pass
    rounds.sort(key=lambda t: t[0], reverse=True)
    return rounds


def _previous_bench() -> tuple[dict, dict, dict, dict, dict, int]:
    """(steady, cold, min, plan_fp, calib, plan_fp_version) per-query
    data from the latest BENCH_r{N}.json.

    Rounds before r4 published cold-equivalent walls in `queries` only;
    for those the cold dict falls back to `queries` so the cold-to-cold
    continuity anchor never mixes methodologies silently.  `queries_min`,
    `plan_fp` and `calib` (machine-speed calibration samples) exist from
    r7 on — empty dicts before that (callers annotate the fallback
    basis).  `plan_fp_version` defaults to 1 for artifacts that predate
    the versioned normalizer.
    """
    rounds = _bench_history()
    if not rounds:
        return {}, {}, {}, {}, {}, {}, 1
    p = rounds[0][1]
    return (
        p["queries"],
        p.get("queries_cold") or p["queries"],
        p.get("queries_min") or {},
        p.get("plan_fp") or {},
        p.get("calib") or {},
        p.get("calib_windows") or {},
        int(p.get("plan_fp_version") or 1),
    )


def _previous_round_bench(
    root: str | None = None,
) -> tuple[dict, dict, dict, int, int | None, dict]:
    """(plan_fp, docscale_queries, tickscale_queries, plan_fp_version,
    round_n, full_src) from the previous ROUND's committed artifact —
    not the latest run.  ``full_src`` is the complete payload the other
    elements were read from (the jsonl twin when matched, else the slim
    driver capture): since r12 EVERY cross-round gate (regressions, env
    shift, shared-cold totals, lane gates) reads from this one basis, so
    a mid-round probe run can never silently become the baseline.

    Round-8 judge finding: ``plan_changed_vs_prev`` compares to the
    latest bench RUN, so a plan change that happens early in a round and
    then stays stable washes out of the final per-round artifact (r8's
    ann_lsh_mt_topk retune fired only in bench_rounds.jsonl).  The
    per-round anchor is the newest ``BENCH_r{N}.json``; its driver-
    captured slim line has no per-query fingerprints, so we match it to
    its full twin in ``bench_rounds.jsonl`` (the same run appends the
    full compact there) by headline value + per-query medians.  Returns
    empty dicts when no round artifact or no jsonl twin exists (first
    round after this change; self-heals next round).
    """
    import re

    here = root or os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, dict] | None = None
    for fn in os.listdir(here):
        m = re.match(r"BENCH_r(\d+)\.json$", fn)
        if not m:
            continue
        try:
            with open(os.path.join(here, fn)) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = doc.get("parsed") or {}
        if not parsed.get("queries"):
            tail = doc.get("tail", "")
            try:
                # raw_decode: driver log noise AFTER the slim JSON line
                # must not discard the newest round artifact (ADVICE r9)
                parsed, _ = json.JSONDecoder().raw_decode(
                    tail, tail.index('{"metric"')
                )
            except (ValueError, json.JSONDecodeError):
                continue
        n = int(m.group(1))
        if parsed.get("queries") and (best is None or n > best[0]):
            best = (n, parsed)
    if best is None:
        return {}, {}, {}, 1, None, {}
    round_n, parsed = best
    twin: dict = {}
    jsonl = os.path.join(here, "bench_rounds.jsonl")
    try:
        with open(jsonl) as f:
            for line in f:
                try:
                    doc = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if (
                    doc.get("value") == parsed.get("value")
                    and doc.get("queries") == parsed.get("queries")
                ):
                    twin = doc  # keep scanning: last match wins
    except OSError:
        pass
    src = twin or parsed
    return (
        src.get("plan_fp") or {},
        src.get("docscale_queries") or {},
        src.get("tickscale_queries") or {},
        int(src.get("plan_fp_version") or 1),
        round_n,
        src,
    )


def _best_recent_min(window: int = 3) -> dict[str, float]:
    """Per-query best-ever minimum over the last ``window`` recorded
    rounds (queries_min where published, steady median otherwise).

    This is the cumulative-drift anchor: the per-round regression gate
    exempts sub-floor queries (session overhead dominates their timing
    at sf0.1), which lets a slow creep spread one sub-20% step per round
    across rounds without ever flagging.  Comparing this round's min to
    the best min of the trailing window catches the creep regardless of
    how it is amortized.
    """
    best: dict[str, float] = {}
    for _, p in _bench_history()[:window]:
        mins = p.get("queries_min") or p.get("queries") or {}
        for name, t in mins.items():
            if isinstance(t, (int, float)) and (
                name not in best or t < best[name]
            ):
                best[name] = float(t)
    return best


def _calibrate(spark) -> dict[str, float]:
    """Fixed CPU work, timed — machine-speed evidence independent of any
    query plan.  A single-thread Python hash loop (pins the Python-side
    floor) and a 32-partition JVM range-sum (pins JVM throughput under
    the same parallelism the queries use).  When this number moves
    between rounds, every query timing moves with it: a regression flag
    whose calibration also shifted is environmental BY ARTIFACT — the
    proof the recurring ann_lsh/ann_ivf driver flags (r5, r6) lacked.

    r10 adds a SHUFFLE lane: the r9 ``regional_revenue`` +21% flag
    bisected to pure environment (r8 code re-run on the same host timed
    identically to r10 code, interleaved A/B — tools/bisect_probe.py)
    while both CPU lanes sat flat at 0.999, because the query is
    exchange/IO-bound and the old calibration was CPU-only
    (calibration undercoverage, VERDICT r9).  The shuffle lane times a
    fixed 32-partition hash-exchange + aggregation, so memory-bandwidth
    / disk contention now moves the calibration the way it moves the
    shuffle-heavy queries."""
    import hashlib

    t0 = time.perf_counter()
    b = b"calibration-block"
    for _ in range(200_000):
        b = hashlib.sha256(b).digest()
    py_ms = round((time.perf_counter() - t0) * 1000.0, 1)
    t0 = time.perf_counter()
    spark.range(0, 50_000_000, 1, 32).selectExpr("sum(id)").collect()
    jvm_ms = round((time.perf_counter() - t0) * 1000.0, 1)
    t0 = time.perf_counter()
    spark.range(0, 8_000_000, 1, 32).selectExpr(
        "id % 100000 AS k", "id AS v"
    ).groupBy("k").agg({"v": "sum"}).selectExpr("sum(`sum(v)`)").collect()
    shuffle_ms = round((time.perf_counter() - t0) * 1000.0, 1)
    return {
        "py_sha_ms": py_ms,
        "jvm_sum_ms": jvm_ms,
        "jvm_shuffle_ms": shuffle_ms,
    }


PLAN_FP_VERSION = 4


def _plan_fingerprint(df) -> str | None:
    """sha of the executed-plan string with run-varying ids normalized.

    Purpose (round-6 judge directive): a >20% timing flag on untouched
    code is either environment contention or an AQE plan flap — the
    fingerprint rules the latter in or out BY ARTIFACT.  Normalized:
    expression ids (#123), plan/stage/RDD ids, broadcast exchange ids —
    everything that differs between two executions of the SAME plan.

    The artifact carries ``plan_fp_version``; a previous artifact
    recorded under another version is not compared (see
    _normalize_plan_str for the current formula).
    """
    import hashlib
    import re

    try:
        from quant_market_data_pipeline_spark.plans.inspect import (
            executed_plan_str,
        )

        s = executed_plan_str(df, stripped=False)
    except Exception:
        return None
    s = _normalize_plan_str(s)
    return hashlib.sha256(s.encode()).hexdigest()[:12]


def _normalize_plan_str(s: str) -> str:
    """The run-varying-id rewrite behind _plan_fingerprint, exposed as a
    pure function so tests exercise the REAL normalizer (an inline copy
    in the test cannot catch a regression here)."""
    import re

    s = re.sub(r"#\d+", "#x", s)
    # analyzer-generated counters embedded in NAMES (not just exprIds):
    # lambda variables (x_16, lambda col_3), CSE slots (_common_expr_0)
    # get globally increasing numbers that differ between two runs of the
    # same plan.  Rewrite ONLY those known generated patterns — a blanket
    # `_\d+#` also collapses genuinely distinct user columns that end in
    # _<digits> (d_1 vs d_2 lag columns), which could hash two DIFFERENT
    # plans identically and hide a real plan change.  Lambda variables
    # are always printed with the ``lambda `` prefix.
    s = re.sub(r"\b(lambda [A-Za-z]+|_common_expr)_\d+#", r"\1_n#", s)
    # Excise the FileScan DataFilters span entirely.  The plan
    # printer TRUNCATES that list at a fixed character budget, and the
    # raw (pre-normalization) expression-id widths (#123 vs #1234) shift
    # the cut point — two byte-identical plans then hash differently,
    # which is exactly the missing_buckets_audit "flap" of r12/r13 (the
    # judge-diffed variants differ in ONE truncated char) and the
    # mechanism behind the phantom cross-round docscale plan-change
    # entries.  No semantic loss: the same predicates appear untruncated
    # in PushedFilters (id-free) and the scan columns in ReadSchema.
    s = re.sub(r"DataFilters: \[.*?(?=, Format:)", "DataFilters: [..]", s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    s = re.sub(r"\[id=\d+\]", "[id=x]", s)
    s = re.sub(r"QueryStage \d+", "QueryStage x", s)
    s = re.sub(r"ExistingRDD\[\d+\]", "ExistingRDD[x]", s)
    s = re.sub(r"\bRDD \d+\b", "RDD x", s)
    return s


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from quant_market_data_pipeline_spark.queries import load_all
    from quant_market_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    # JVM + first-scan warmup so query timings measure the plans, not
    # session bootstrap (the driver compares operator cost, not cold start).
    from quant_market_data_pipeline_spark.sources.tables import load_table

    for t in ("events", "lineitem", "orders", "documents", "embeddings"):
        load_table(spark, t, sf_dir).count()

    # Python-worker-pool warmup: the Arrow/pandas-UDF queries (gemm ANN
    # scoring) otherwise charge the one-time daemon spin-up to whichever
    # of them runs first — session bootstrap, not operator cost.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s):
        return s * 1.0

    spark.range(64).repartition(32).select(
        _warm(F.col("id").cast("double"))
    ).count()

    # Machine-speed calibration PER MEASUREMENT WINDOW (r11, judge
    # Missing #4): one named sample before the headliners, one after,
    # and one after EACH scale-probe window — so a COVERAGE claim like
    # "+5 s of the docscale delta is env shift at 1.05" cites a number
    # the committed artifact carries for THAT window, instead of one
    # whole-run median that a different window produced.
    calib_windows: dict[str, dict[str, float]] = {}
    calib_windows["pre_headline"] = _calibrate(spark)

    # Steady-state timing: each query executes 4 times.  The FIRST run
    # absorbs one-time session costs its plan shape triggers (whole-stage
    # codegen compile, JIT, Arrow/cogroup worker handshakes — all
    # amortized to zero on a long-lived cluster) and is reported as the
    # cold number; the recorded operator cost is the MEDIAN of the next
    # 3 runs, so a single GC pause or OS hiccup can't flag a phantom
    # regression (r5: ann_ivf_topk +29% on untouched code, single-run).
    # Nothing data-level is cached across runs: each invocation builds a
    # fresh DataFrame, re-scans parquet, re-shuffles and re-computes
    # (localCheckpoints are per-DataFrame).
    warm_runs = 3
    timings: dict[str, float] = {}
    timings_cold: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    spreads: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    plan_fps: dict[str, list[str | None]] = {}
    def _drop_dead_blocks() -> None:
        """Unpin defunct checkpoint/broadcast blocks between queries.

        The index-build queries localCheckpoint their sketch frames; the
        blocks are freed only when the driver GC collects the RDD object
        and the async ContextCleaner unpersists them.  Across ~90 query
        executions in one bench session that lag accumulates into real
        executor-store pressure — measured: shingle_novelty's x16 probe
        swung 7.8 s -> 48.7 s in a session whose GC happened not to run.

        r12 (bisecting the r11 countmin/shingle docscale regressions):
        ``System.gc()`` alone is NOT enough, because the JVM cannot
        collect an RDD whose py4j reference is still held by an
        uncollected PYTHON object — the release chain is Python gc ->
        py4j detach -> JVM gc -> async ContextCleaner unpersist.  CPython
        refcounting frees most handles immediately, but the query
        closures build reference CYCLES (DataFrame <-> plan wrappers)
        that wait for the generational collector, and that wait is
        allocation-history-dependent — which is exactly why the r11
        regressions were irreproducible in isolation: measured in-lane
        x16 walls with only System.gc(): shingle_novelty 20.9 s /
        minhash_search_topk 10.2 s, with up to ~800 MB of dead blocks
        resident at query start; with gc.collect() first: 9.5 s / 5.2 s
        and the store back near zero.  The bounded drain below then
        gives the async ContextCleaner a moment to actually unpersist
        what the two collectors just released, so every lane member
        starts from a deterministic (near-empty) store.
        """
        import gc as _gc

        spark.catalog.clearCache()
        _gc.collect()
        jvm = spark.sparkContext._jvm
        jvm.System.gc()
        jsc = spark.sparkContext._jsc.sc()
        deadline = time.perf_counter() + 2.0
        prev_blocks = None
        while time.perf_counter() < deadline:
            try:
                blocks = sum(
                    x.numCachedPartitions()
                    for x in jsc.getRDDStorageInfo()
                )
            except Exception:
                break
            if blocks == 0 or blocks == prev_blocks:
                break
            prev_blocks = blocks
            time.sleep(0.25)

    def _lane_warm_wall(run, cold_wall):
        """Min-of-2 warm walls for the scale lanes (r13, VERDICT r12
        #2): a single warm run admitted physically impossible readings
        (ann_ivf_topk x16 warm 11.63 s vs 4.43 s cold in the committed
        r12 entry — one-run noise the per-query gate then flagged).
        Two warm runs, gate on the MIN; if the min still exceeds the
        member's own cold wall, noise is not yet excluded and ONE extra
        run is taken.  The recorded wall is the minimum over every
        observed execution INCLUDING the cold run — any observed wall
        upper-bounds the true steady-state cost (compile only adds), so
        the tightest observed bound is the honest warm number and the
        warm <= cold invariant holds by construction.  The UNCLAMPED
        warm-only minimum is returned alongside it (ADVICE r13): a
        fluke-fast cold reading would otherwise permanently cap the
        recorded wall below the true steady state and mask a genuine
        warm regression at next round's 1.2x gate — the gates compare
        warm_min like-for-like while the artifact wall keeps the
        warm <= cold clamp.  Returns (wall, warm_min, warm_spread,
        plan_fp)."""
        walls = []
        fps = []
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = run()
            walls.append(round(time.perf_counter() - t0, 3))
            fps.append(_plan_fingerprint(df))
        if cold_wall is not None and min(walls) > cold_wall:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = run()
            walls.append(round(time.perf_counter() - t0, 3))
            fps.append(_plan_fingerprint(df))
        spread = round(max(walls) - min(walls), 3)
        wall = min(walls + ([cold_wall] if cold_wall is not None else []))
        # lane twin of the headline plan_flaps (r13): two same-code
        # probes showed 4 lane members whose fingerprints differ RUN TO
        # RUN (AQE load-dependent re-plans on the collect()-actioned
        # recall audits) — recording one run's hash made every such
        # member a phantom "plan changed vs prev round" entry.  A
        # member whose warm runs executed different plans records FLAP,
        # and the changed-list compare skips FLAP on either side.
        fp = "FLAP" if len(set(fps)) > 1 else fps[-1]
        return round(wall, 3), round(min(walls), 3), spread, fp

    for name in HEADLINE:
        spec = registry.get(name)
        if spec is None:
            continue
        # nothing data-level carries across runs: clearCache drops any
        # persisted dimension frame (materialize_dim) so every run
        # re-scans, re-shuffles and re-materializes from parquet
        _drop_dead_blocks()
        t0 = time.perf_counter()
        df = spec.spark(spark, sf_dir)
        df.count()
        timings_cold[name] = round(time.perf_counter() - t0, 3)
        fps = [_plan_fingerprint(df)]
        runs = []
        for _ in range(warm_runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = spec.spark(spark, sf_dir)
            df.count()
            runs.append(round(time.perf_counter() - t0, 3))
            fps.append(_plan_fingerprint(df))
        samples[name] = runs
        plan_fps[name] = fps
        timings[name] = round(statistics.median(runs), 3)
        timings_min[name] = round(min(runs), 3)
        spreads[name] = round(max(runs) - min(runs), 3)

    calib_windows["post_headline"] = _calibrate(spark)

    total = round(sum(timings.values()), 3)
    # a query whose 3 warm runs executed DIFFERENT physical plans (AQE
    # re-plan) — any timing delta on it is plan-shaped, not contention
    plan_flaps = [
        n for n, fps in plan_fps.items() if len(set(fps[1:])) > 1
    ]

    # docscale probe: doc headliners against the x16 derived fixture.
    # Since r12 every lane member also records a plan fingerprint (judge
    # Missing #2: "zero plan changes" previously covered only the 17
    # headline fingerprints, so a lane plan flip was invisible) AND a
    # WARM second-run wall.  The warm wall exists because the r11
    # shingle_novelty "regression" bisected to a measurement-regime
    # flip, not a plan cost: lane members ran ONCE, so their wall mixes
    # whole-stage-codegen compile time with execution — and whether a
    # member's generated classes survive until the lane is session-
    # history luck (the Janino cache holds ~100 entries; 19 headline
    # queries x 4 runs overflow it).  Measured at the x16 corpus:
    # shingle_novelty 13.0 s session-cold vs 5.5-6.0 s warm — r10's
    # committed 5.94 was a lucky cache hit, r11's 14.6 a miss on an
    # unchanged plan.  The warm wall is also the honest 100 TB number:
    # on a long-lived cluster compile time amortizes to zero.  Cold
    # walls stay recorded for cross-round continuity; the per-query
    # lane gates flag on WARM (fallback: cold, self-heals next round).
    docscale: dict[str, float] = {}
    docscale_warm: dict[str, float] = {}
    docscale_warm_min: dict[str, float] = {}
    docscale_warm_spread: dict[str, float] = {}
    docscale_recall: dict[str, float | None] = {}
    plan_fp_docscale: dict[str, str | None] = {}
    try:
        scale_dir = _build_docscale_dir(spark, sf_dir)
        for t in ("documents", "embeddings"):
            load_table(spark, t, scale_dir).count()  # warm
        for name in DOCSCALE:
            _drop_dead_blocks()
            spec = registry.get(name)
            if spec is None:
                continue
            t0 = time.perf_counter()
            df = spec.spark(spark, scale_dir)
            if name in DOCSCALE_RECALL:
                # the timed window covers the Spark action ONLY; the
                # Row->dict conversion and recall math run outside it so
                # recall capture doesn't distort the wall time (ADVICE
                # r9).  collect-vs-count is inherent (recall needs the
                # rows) and recorded in docscale_action below.
                rows = df.collect()
                docscale[name] = round(time.perf_counter() - t0, 3)
                docscale_recall[name] = _micro_recall(
                    name, [r.asDict() for r in rows]
                )
            else:
                df.count()
                docscale[name] = round(time.perf_counter() - t0, 3)
            # warm runs: fresh DataFrame each, caches cleared — only
            # the compiled-code state carries over (min-of-2, r13)
            def _run(spec=spec, name=name):
                df = spec.spark(spark, scale_dir)
                if name in DOCSCALE_RECALL:
                    df.collect()
                else:
                    df.count()
                return df

            (
                docscale_warm[name],
                docscale_warm_min[name],
                docscale_warm_spread[name],
                plan_fp_docscale[name],
            ) = _lane_warm_wall(_run, docscale.get(name))
    except Exception as exc:  # probe must never sink the headline bench
        docscale = {"error": str(exc)[:200]}
    calib_windows["post_docscale"] = _calibrate(spark)
    # tickscale probe: tick headliners against the x16 events fixture
    tickscale: dict[str, float] = {}
    tickscale_warm: dict[str, float] = {}
    tickscale_warm_min: dict[str, float] = {}
    tickscale_warm_spread: dict[str, float] = {}
    plan_fp_tickscale: dict[str, str | None] = {}
    try:
        tick_dir = _build_tickscale_dir(spark, sf_dir)
        load_table(spark, "events", tick_dir).count()  # warm
        for name in TICKSCALE:
            _drop_dead_blocks()
            spec = registry.get(name)
            if spec is None:
                continue
            t0 = time.perf_counter()
            df = spec.spark(spark, tick_dir)
            df.count()
            tickscale[name] = round(time.perf_counter() - t0, 3)

            def _run(spec=spec):
                df = spec.spark(spark, tick_dir)
                df.count()
                return df

            (
                tickscale_warm[name],
                tickscale_warm_min[name],
                tickscale_warm_spread[name],
                plan_fp_tickscale[name],
            ) = _lane_warm_wall(_run, tickscale.get(name))
    except Exception as exc:  # probe must never sink the headline bench
        tickscale = {"error": str(exc)[:200]}
    calib_windows["post_tickscale"] = _calibrate(spark)

    # sf1.0-equivalent probe: the 5 scale-critical headliners at x10 all
    # fact tables, with the empirical scaling exponent vs this round's
    # sf0.1 warm medians (alpha <= 1 <=> linear or better)
    sf1: dict[str, float] = {}
    sf1_warm: dict[str, float] = {}
    sf1_warm_min: dict[str, float] = {}
    sf1_warm_spread: dict[str, float] = {}
    sf1_exp: dict[str, float] = {}
    plan_fp_sf1: dict[str, str | None] = {}
    if os.environ.get("SPARK_GRAFT_SF1_PROBE", "1") != "0":
        try:
            import math

            sf1_dir = _build_sf1_dir(spark, sf_dir)
            for t in ("events", "documents", "embeddings"):
                load_table(spark, t, sf1_dir).count()  # warm
            for name in SF1:
                spec = registry.get(name)
                if spec is None:
                    continue
                _drop_dead_blocks()
                t0 = time.perf_counter()
                df = spec.spark(spark, sf1_dir)
                df.count()
                sf1[name] = round(time.perf_counter() - t0, 3)

                def _run(spec=spec):
                    df = spec.spark(spark, sf1_dir)
                    df.count()
                    return df

                (
                    sf1_warm[name],
                    sf1_warm_min[name],
                    sf1_warm_spread[name],
                    plan_fp_sf1[name],
                ) = _lane_warm_wall(_run, sf1.get(name))
                base = timings.get(name)
                if base and base > 0 and sf1[name] > 0:
                    sf1_exp[name] = round(
                        math.log(sf1[name] / base) / math.log(SF1_FACTOR), 2
                    )
        except Exception as exc:  # probe must never sink the headline bench
            sf1 = {"error": str(exc)[:200]}

    # GROWN-sf1.0 probe (r9): the same headliners on the genuinely
    # generated sf1.0 fixture (tools/gen_sf1_grown.py — grown key
    # cardinality: more users/symbols/days/vocab, not row replication).
    # Same ~10x volume as the replicated probe, different cardinality
    # profile, so replicated-vs-grown separates volume cost from
    # key-state cost (distinct signatures, group counts, first-seen
    # frames).  Skipped silently when the fixture has not been
    # generated.
    sf1g: dict[str, float] = {}
    sf1g_warm: dict[str, float] = {}
    sf1g_warm_min: dict[str, float] = {}
    sf1g_warm_spread: dict[str, float] = {}
    grown_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_scale",
        "sf1.0_grown",
    )
    if (
        os.environ.get("SPARK_GRAFT_SF1_PROBE", "1") != "0"
        and os.path.isdir(grown_dir)
    ):
        try:
            for t in ("events", "documents", "embeddings"):
                load_table(spark, t, grown_dir).count()  # warm
            for name in SF1:
                spec = registry.get(name)
                if spec is None:
                    continue
                _drop_dead_blocks()
                t0 = time.perf_counter()
                spec.spark(spark, grown_dir).count()
                sf1g[name] = round(time.perf_counter() - t0, 3)

                def _run(spec=spec):
                    df = spec.spark(spark, grown_dir)
                    df.count()
                    return df

                (
                    sf1g_warm[name],
                    sf1g_warm_min[name],
                    sf1g_warm_spread[name],
                    _,
                ) = _lane_warm_wall(_run, sf1g.get(name))
        except Exception as exc:
            sf1g = {"error": str(exc)[:200]}

    # CLUSTERED lane (r14, judge directive #1): the quantization-menu
    # recall audits on the planted-Gaussian-mixture fixture
    # (tools/gen_clustered.py — n=20,000 like sf1.0_grown, but 16
    # imbalanced well-separated clusters), so every round re-measures
    # the menu where the ENCODER, not distance contrast, binds: flat
    # vs residual PQ, SQ8, and the trained-coarse cell balance.
    # Skipped silently when the fixture has not been generated.
    clustered: dict[str, float] = {}
    clustered_warm: dict[str, float] = {}
    clustered_warm_min: dict[str, float] = {}
    clustered_warm_spread: dict[str, float] = {}
    clustered_recall: dict[str, dict] = {}
    clustered_skew: dict[str, float] = {}
    clustered_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_scale",
        "clustered",
    )
    if (
        os.environ.get("SPARK_GRAFT_SF1_PROBE", "1") != "0"
        and os.path.isdir(clustered_dir)
    ):
        try:
            load_table(spark, "embeddings", clustered_dir).count()  # warm
            for name in CLUSTERED:
                spec = registry.get(name)
                if spec is None:
                    continue
                _drop_dead_blocks()
                t0 = time.perf_counter()
                rows = [
                    r.asDict()
                    for r in spec.spark(spark, clustered_dir).collect()
                ]
                clustered[name] = round(time.perf_counter() - t0, 3)
                clustered_recall[name] = _micro_recalls(rows)
                for r in rows[:1]:
                    for k in ("skew_id_sliced", "skew_trained"):
                        if k in r:
                            clustered_skew[k] = r[k]

                def _run(spec=spec):
                    df = spec.spark(spark, clustered_dir)
                    df.collect()
                    return df

                (
                    clustered_warm[name],
                    clustered_warm_min[name],
                    clustered_warm_spread[name],
                    _,
                ) = _lane_warm_wall(_run, clustered.get(name))
        except Exception as exc:
            clustered = {"error": str(exc)[:200]}

    calib_windows["post_sf1"] = _calibrate(spark)
    # bracketing lists (pre/post headline + final), kept for continuity
    # with pre-r11 artifacts and the whole-run env_shift medians
    _cw_order = [
        "pre_headline", "post_headline", "post_docscale",
        "post_tickscale", "post_sf1",
    ]
    calib = {
        k: [calib_windows[w][k] for w in _cw_order if k in calib_windows.get(w, {})]
        for k in ("py_sha_ms", "jvm_sum_ms", "jvm_shuffle_ms")
    }

    # Regression harness (round-6 judge directive: dispersion-proof).
    # Flags compare the MIN of this round's 3 warm samples against the
    # previous round's min — environment contention (co-scheduled load,
    # GC) inflates medians and maxima but cannot DEFLATE a minimum, so a
    # min-over-min regression is a real plan/code cost, not noise.
    # Previous rounds (<= r6) published medians only; the first round
    # after this change falls back to prev median and says so.
    # ONE pinned basis for every cross-round gate (r12, judge What's-
    # wrong #1): the previous ROUND's committed BENCH_r{N}.json (full
    # jsonl twin when matched).  The old behavior — newest history entry
    # wins — let a mid-round probe run become the baseline, which made
    # the r11 regressions_over_20pct vacuous.  Fallback when no round
    # artifact exists (fresh checkout): newest NON-PROBE history entry.
    (
        prev_round_fp,
        prev_round_doc,
        prev_round_tick,
        prev_round_fp_ver,
        prev_round_n,
        prev_round_src,
    ) = _previous_round_bench()
    if prev_round_src.get("queries"):
        prev_basis = f"round_r{prev_round_n}_committed"
        prev = prev_round_src["queries"]
        prev_cold = prev_round_src.get("queries_cold") or prev
        prev_min = prev_round_src.get("queries_min") or {}
        prev_fp = prev_round_fp
        prev_calib = prev_round_src.get("calib") or {}
        prev_calib_windows = prev_round_src.get("calib_windows") or {}
        prev_fp_ver = prev_round_fp_ver
    else:
        prev_basis = "latest_non_probe_run (no committed round artifact)"
        (
            prev,
            prev_cold,
            prev_min,
            prev_fp,
            prev_calib,
            prev_calib_windows,
            prev_fp_ver,
        ) = _previous_bench()
    # environment shift vs the previous round's recorded machine speed:
    # a >15% calibration move means the whole machine is slower/faster —
    # any same-direction flag below is environmental by artifact
    env_shift = None
    if prev_calib.get("py_sha_ms"):
        cur = statistics.median(calib["py_sha_ms"])
        prv = statistics.median(prev_calib["py_sha_ms"])
        if prv > 0:
            env_shift = round(cur / prv, 3)
    # shuffle-lane shift (r10; None until the prior round recorded the
    # lane) — covers the memory-bandwidth/IO contention the CPU lanes
    # missed when regional_revenue flagged +21% on unchanged code in r9
    env_shift_shuffle = None
    if prev_calib.get("jvm_shuffle_ms") and calib.get("jvm_shuffle_ms"):
        prv = statistics.median(prev_calib["jvm_shuffle_ms"])
        if prv > 0:
            env_shift_shuffle = round(
                statistics.median(calib["jvm_shuffle_ms"]) / prv, 3
            )
    # per-window shift vs the previous round's SAME window (r11): the
    # number a per-probe decomposition must cite; empty until the prior
    # round's artifact carries calib_windows (self-heals next round)
    env_shift_windows: dict[str, dict[str, float]] = {}
    for _w, _lanes in calib_windows.items():
        _pw = prev_calib_windows.get(_w) or {}
        _shifts = {
            lane: round(_lanes[lane] / _pw[lane], 3)
            for lane in ("py_sha_ms", "jvm_shuffle_ms")
            if _lanes.get(lane) and _pw.get(lane)
        }
        if _shifts:
            env_shift_windows[_w] = _shifts
    deltas = {
        name: round(t - prev[name], 3) for name, t in timings.items() if name in prev
    }
    basis = prev_min if prev_min else prev
    regression_basis = (
        "min_of_3_vs_prev_min"
        if prev_min
        else "min_of_3_vs_prev_median (prev round pre-dates queries_min; "
        "self-heals next round)"
    )
    # Gate floor (DISCLOSED — round-7 judge finding): queries whose
    # previous basis is under REGRESSION_FLOOR_SEC are exempt from the
    # per-round 20% flag because at sf0.1 their wall is dominated by
    # fixed session overhead (task dispatch, Python round-trips), where
    # 20% is inside run-to-run noise.  The exemptions are LISTED in the
    # artifact, and the best-ever-min drift check below closes the
    # creep loophole the floor would otherwise open.
    REGRESSION_FLOOR_SEC = 0.5
    regressions = [
        name
        for name, t in timings_min.items()
        if name in basis
        and basis[name] >= REGRESSION_FLOOR_SEC
        and t > 1.2 * basis[name]
    ]
    exempt_below_floor = sorted(
        name
        for name, t in timings_min.items()
        if name in basis
        and basis[name] < REGRESSION_FLOOR_SEC
        and t > 1.2 * basis[name]
    )
    # Cumulative drift: this round's min vs the best min over the last 3
    # recorded rounds.  NO floor here — a 0.1 s absolute guard screens
    # pure noise, but sub-floor queries cannot creep indefinitely.
    best3 = _best_recent_min(window=3)
    drift_vs_best3 = {
        name: {"min": t, "best3": best3[name]}
        for name, t in sorted(timings_min.items())
        if name in best3
        and t > 1.4 * best3[name]
        and t - best3[name] > 0.1
    }
    # plan-fingerprint drift vs previous round: a flagged regression with
    # a CHANGED fingerprint is a plan regression; unchanged fingerprint +
    # min-over-min stability = environmental.  A previous artifact
    # recorded under another FORMULA VERSION is not comparable (no
    # changes reported) so a normalizer upgrade can never masquerade as
    # a fleet-wide plan change.
    def _changed_vs(fp_map: dict, ver: int) -> list[str]:
        if ver != PLAN_FP_VERSION:
            return []
        return [
            n
            for n in plan_fps
            if n in fp_map
            and fp_map[n] not in (None, "FLAP")
            and plan_fps[n][-1] is not None
            and plan_fps[n][-1] != fp_map[n]
        ]

    # Since r12 prev_fp IS the previous round's committed fingerprints
    # (one basis everywhere), so the two plan-change lists coincide by
    # construction; both keys are kept for artifact-schema continuity.
    plan_changed_vs_prev = _changed_vs(prev_fp, prev_fp_ver)
    plan_changed_vs_prev_round = _changed_vs(prev_round_fp, prev_round_fp_ver)

    # Per-query regression flags for the SCALE LANES (r12, judge Missing
    # #1: the lanes gated only shared totals, which is exactly how a
    # 3.6x single-query regression hid inside a +18% total in r11).
    # Lane members run ONCE (no min-of-3 defense), so these flags lean
    # on the per-window calibration shift for the environmental control;
    # same 20% threshold and 0.5 s floor as the headline gate.
    def _lane_gate(cur: dict, prev_lane: dict) -> list[str]:
        return sorted(
            n
            for n, t in cur.items()
            if isinstance(t, (int, float))
            and isinstance(prev_lane.get(n), (int, float))
            and prev_lane[n] >= REGRESSION_FLOOR_SEC
            and t > 1.2 * prev_lane[n]
        )

    def _lane_gate_warm(cur_warm: dict, prev_src_key: str) -> list[str]:
        """Flag on the WARM lane walls (compile time excluded — the r11
        shingle_novelty lesson).  Both sides prefer the UNCLAMPED
        warm-only minimum (`*_warm_min`, ADVICE r13) so a fluke-fast
        cold reading baked into the clamped wall cannot mask a genuine
        warm regression; the clamped `*_warm` remains the fallback for
        artifacts that predate the split.  The final fallback basis is
        PREV-side only: until the previous round's artifact carries
        warm numbers, this round's warm walls compare against its
        once-cold walls (conservative; self-heals next round)."""
        prev_warm = (
            prev_round_src.get(prev_src_key + "_warm_min")
            or prev_round_src.get(prev_src_key + "_warm")
            or {}
        )
        if prev_warm:
            return _lane_gate(cur_warm, prev_warm)
        # Transition round: the previous artifact has only ONCE-COLD
        # walls, which mix codegen-compile time with execution and made
        # r10->r11 flag phantom "regressions" on unchanged plans.
        # Comparing this round's WARM against them is deliberately
        # conservative (warm <= cold, so anything flagged is a real
        # execute-cost regression compile luck cannot explain);
        # cold-vs-cold would re-flag the known compile flips.
        # Self-heals to warm-vs-warm next round.
        return _lane_gate(cur_warm, prev_round_src.get(prev_src_key) or {})

    # Env-normalized twins (r13, VERDICT r12 #1): the r12 committed
    # artifact landed on a window its own calibration flagged >15% slow
    # and its 12 flags needed COVERAGE's probe cross-reference to read.
    # Now the artifact carries its own correction: value_envnorm is the
    # headline wall divided by the CPU-lane calibration shift
    # (symmetric — it is informational), and every flag list has an
    # *_envnorm twin: the flags that SURVIVE the environmental control.
    # The flag normalization clamps the shift at 1.0 — only a SLOWER
    # window (shift > 1) can create spurious flags, so only that
    # direction is corrected; dividing by a <1 shift would instead
    # inflate every wall by calibration noise (first clean probe run:
    # 16 phantom docscale entries from a 0.875 window).  Consequences:
    # envnorm is a SUBSET of the raw list, and the read is one step —
    # raw-only flags are environmental by the artifact alone, envnorm
    # flags are real code/plan cost.  Lanes use their own window's
    # shift (env_shift_windows) when the previous round recorded it,
    # the whole-run shift otherwise.
    def _envnorm_flags(cur: dict, basis_map: dict, shift) -> list | None:
        if not shift or shift <= 0:
            return None
        eff = max(float(shift), 1.0)
        return sorted(
            n
            for n, t in cur.items()
            if isinstance(t, (int, float))
            and isinstance(basis_map.get(n), (int, float))
            and basis_map[n] >= REGRESSION_FLOOR_SEC
            and t / eff > 1.2 * basis_map[n]
        )

    def _lane_envnorm(
        cur_warm: dict, prev_src_key: str, window: str
    ) -> list | None:
        shift = (env_shift_windows.get(window) or {}).get(
            "py_sha_ms"
        ) or env_shift
        prev_lane = (
            prev_round_src.get(prev_src_key + "_warm_min")
            or prev_round_src.get(prev_src_key + "_warm")
            or prev_round_src.get(prev_src_key)
            or {}
        )
        return _envnorm_flags(cur_warm, prev_lane, shift)

    regressions_envnorm = _envnorm_flags(timings_min, basis, env_shift)
    docscale_regressions_envnorm = _lane_envnorm(
        docscale_warm_min, "docscale_queries", "post_docscale"
    )
    tickscale_regressions_envnorm = _lane_envnorm(
        tickscale_warm_min, "tickscale_queries", "post_tickscale"
    )
    sf1_regressions_envnorm = _lane_envnorm(
        sf1_warm_min, "sf1_queries", "post_sf1"
    )
    sf1grown_regressions_envnorm = _lane_envnorm(
        sf1g_warm_min, "sf1grown_queries", "post_sf1"
    )
    clustered_regressions_envnorm = _lane_envnorm(
        clustered_warm_min, "clustered_queries", "post_sf1"
    )

    def _lane_plan_changed(cur_fp: dict, prev_lane_fp: dict) -> list[str]:
        return sorted(
            n
            for n, fp in cur_fp.items()
            if fp not in (None, "FLAP")
            and prev_lane_fp.get(n) not in (None, "FLAP")
            and fp != prev_lane_fp[n]
        )

    docscale_regressions = _lane_gate_warm(
        docscale_warm_min, "docscale_queries"
    )
    tickscale_regressions = _lane_gate_warm(
        tickscale_warm_min, "tickscale_queries"
    )
    sf1_regressions = _lane_gate_warm(sf1_warm_min, "sf1_queries")
    sf1grown_regressions = _lane_gate_warm(
        sf1g_warm_min, "sf1grown_queries"
    )
    clustered_regressions = _lane_gate_warm(
        clustered_warm_min, "clustered_queries"
    )
    # lane fingerprints compare only same-version artifacts; a version
    # bump empties the previous map and the compare self-heals next round
    _lane_fp_comparable = prev_round_fp_ver == PLAN_FP_VERSION
    plan_changed_docscale = _lane_plan_changed(
        plan_fp_docscale,
        (prev_round_src.get("plan_fp_docscale") or {})
        if _lane_fp_comparable else {},
    )
    plan_changed_tickscale = _lane_plan_changed(
        plan_fp_tickscale,
        (prev_round_src.get("plan_fp_tickscale") or {})
        if _lane_fp_comparable else {},
    )
    plan_changed_sf1 = _lane_plan_changed(
        plan_fp_sf1,
        (prev_round_src.get("plan_fp_sf1") or {})
        if _lane_fp_comparable else {},
    )
    shared = sorted(set(timings_cold) & set(prev_cold))
    shared_cold_total = round(sum(timings_cold[n] for n in shared), 3)
    prev_shared_cold_total = round(sum(prev_cold[n] for n in shared), 3)

    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "queries_spread": spreads,
        "queries_cold": timings_cold,
        "timing": f"median_of_{warm_runs}_steady_state",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "regressions_over_20pct": regressions,
        # headline wall divided by the CPU calibration shift vs the
        # pinned basis — the committed number's own environmental
        # correction (r13; None when no prev calibration exists)
        "value_envnorm": (
            round(total / env_shift, 3) if env_shift else None
        ),
        "regressions_envnorm_over_20pct": regressions_envnorm,
        "regression_basis": regression_basis,
        # the ONE artifact every *_vs_prev / regression field below is
        # computed against (r12): the previous round's committed entry,
        # never a mid-round probe run
        "prev_basis": prev_basis,
        "regression_floor_sec": REGRESSION_FLOOR_SEC,
        "exempt_below_floor": exempt_below_floor,
        "drift_over_40pct_vs_best3_min": drift_vs_best3,
        "calib": calib,
        "calib_windows": calib_windows,
        "env_shift_vs_prev": env_shift,
        "env_shift_shuffle_vs_prev": env_shift_shuffle,
        "env_shift_windows": env_shift_windows,
        "env_note": (
            "calibration moved >15% vs prev round - read value_envnorm "
            "and the *_envnorm flag lists" if env_shift
            and abs(env_shift - 1) > 0.15 and regressions else None
        ),
        "plan_fp": {
            n: ("FLAP" if n in plan_flaps else fps[-1])
            for n, fps in plan_fps.items()
        },
        "plan_fp_version": PLAN_FP_VERSION,
        "plan_fp_compare_version": min(prev_fp_ver, PLAN_FP_VERSION),
        "plan_flaps_within_round": plan_flaps,
        "plan_changed_vs_prev": plan_changed_vs_prev,
        # vs the previous ROUND's committed BENCH_r{N}.json (its jsonl
        # twin carries the fingerprints), so mid-round-settled plan
        # changes still surface in the per-round artifact
        "plan_changed_vs_prev_round": plan_changed_vs_prev_round,
        "plan_prev_round_n": prev_round_n,
        "plan_prev_round_fp_n": len(
            set(plan_fps) & {
                n for n, fp in prev_round_fp.items()
                if fp not in (None, "FLAP")
            }
        ),
        "shared_cold_total": shared_cold_total,
        "prev_shared_cold_total": prev_shared_cold_total,
        "shared_cold_n": len(shared),
        "docscale_factor": DOCSCALE_FACTOR,
        "docscale_total": round(
            sum(v for v in docscale.values() if isinstance(v, float)), 3
        ),
        # membership-aware cross-round comparison (round-8 judge
        # directive #4): n of entries this round, plus the SAME-
        # membership total for this round and the previous round, so
        # set growth cannot masquerade as a regression
        "docscale_n": sum(
            1 for v in docscale.values() if isinstance(v, float)
        ),
        "docscale_shared_total": round(
            sum(
                v for n, v in docscale.items()
                if isinstance(v, float)
                and isinstance(prev_round_doc.get(n), (int, float))
            ),
            3,
        ),
        "prev_docscale_shared_total": round(
            sum(
                float(prev_round_doc[n]) for n, v in docscale.items()
                if isinstance(v, float)
                and isinstance(prev_round_doc.get(n), (int, float))
            ),
            3,
        ),
        "tickscale_factor": TICKSCALE_FACTOR,
        "tickscale_total": round(
            sum(v for v in tickscale.values() if isinstance(v, float)), 3
        ),
        "tickscale_n": sum(
            1 for v in tickscale.values() if isinstance(v, float)
        ),
        "tickscale_shared_total": round(
            sum(
                v for n, v in tickscale.items()
                if isinstance(v, float)
                and isinstance(prev_round_tick.get(n), (int, float))
            ),
            3,
        ),
        "prev_tickscale_shared_total": round(
            sum(
                float(prev_round_tick[n]) for n, v in tickscale.items()
                if isinstance(v, float)
                and isinstance(prev_round_tick.get(n), (int, float))
            ),
            3,
        ),
        # per-query lane regression flags + plan fingerprints (r12):
        # the lanes get the headline gate's teeth — 20% flag vs the
        # pinned prev-round basis, 0.5 s floor, fingerprint drift
        "docscale_regressions_over_20pct": docscale_regressions,
        "tickscale_regressions_over_20pct": tickscale_regressions,
        "sf1_regressions_over_20pct": sf1_regressions,
        "sf1grown_regressions_over_20pct": sf1grown_regressions,
        "docscale_regressions_envnorm": docscale_regressions_envnorm,
        "tickscale_regressions_envnorm": tickscale_regressions_envnorm,
        "sf1_regressions_envnorm": sf1_regressions_envnorm,
        "sf1grown_regressions_envnorm": sf1grown_regressions_envnorm,
        "plan_changed_vs_prev_round_docscale": plan_changed_docscale,
        "plan_changed_vs_prev_round_tickscale": plan_changed_tickscale,
        "plan_changed_vs_prev_round_sf1": plan_changed_sf1,
        "plan_fp_docscale": plan_fp_docscale,
        "plan_fp_tickscale": plan_fp_tickscale,
        "plan_fp_sf1": plan_fp_sf1,
        # per-query scale-probe walls recorded in the jsonl history so
        # the NEXT round's same-membership totals have a basis.  The
        # *_warm twins are the second-run walls (compile state carried,
        # data caches cleared) — the gate basis from r12 on; the cold
        # walls keep cross-round continuity with pre-r12 artifacts.
        "docscale_queries": docscale,
        "docscale_queries_warm": docscale_warm,
        "docscale_queries_warm_min": docscale_warm_min,
        "docscale_warm_spread": docscale_warm_spread,
        "tickscale_queries": tickscale,
        "tickscale_queries_warm": tickscale_warm,
        "tickscale_queries_warm_min": tickscale_warm_min,
        "tickscale_warm_spread": tickscale_warm_spread,
        "sf1_queries_warm": sf1_warm,
        "sf1_queries_warm_min": sf1_warm_min,
        "sf1_warm_spread": sf1_warm_spread,
        "sf1grown_queries_warm": sf1g_warm,
        "sf1grown_queries_warm_min": sf1g_warm_min,
        "clustered_queries": clustered,
        "clustered_queries_warm": clustered_warm,
        "clustered_queries_warm_min": clustered_warm_min,
        "clustered_queries_warm_spread": clustered_warm_spread,
        "clustered_recall": clustered_recall,
        "clustered_skew": clustered_skew,
        "clustered_regressions_over_20pct": clustered_regressions,
        "clustered_regressions_envnorm": clustered_regressions_envnorm,
        "sf1grown_warm_spread": sf1g_warm_spread,
        "lane_gate_basis": (
            "warm_vs_prev_warm"
            if (prev_round_src.get("docscale_queries_warm") or {})
            else "warm_vs_prev_cold (prev round pre-dates warm lanes; "
            "conservative — warm <= cold, so a flag is a real execute-"
            "cost regression; self-heals to warm_vs_warm next round)"
        ),
        "sf1_queries": sf1,
        # measured recall of the audit queries AT the x16 corpus
        "docscale_recall": docscale_recall,
        # timed Spark action per docscale query: recall queries collect()
        # (rows needed), the rest count() — recorded so cross-round
        # same-membership totals aren't read across a semantics change
        # (the r9->r10 boundary mixes regimes once; ADVICE r9)
        "docscale_action": {
            n: ("collect" if n in DOCSCALE_RECALL else "count")
            for n, v in docscale.items()
            if isinstance(v, float)
        },
        "sf1_factor": SF1_FACTOR,
        "sf1_total": round(
            sum(v for v in sf1.values() if isinstance(v, float)), 3
        ),
        "sf1_exponents": sf1_exp,
        # same headliners on GROWN sf1.0 (cardinality growth, not row
        # replication) — read next to sf1_queries to split volume cost
        # from key-state cost
        "sf1grown_queries": sf1g,
        "sf1grown_total": round(
            sum(v for v in sf1g.values() if isinstance(v, float)), 3
        ),
        "detail": "BENCH_FULL_LATEST.json",
    }
    # Mid-round PROBE runs (builder iteration, bisects) tag themselves
    # via SPARK_GRAFT_BENCH_PROBE=1 or --probe: the entry still lands in
    # bench_rounds.jsonl for forensics but is excluded from every
    # comparison basis (_bench_history skips it).
    if (
        os.environ.get("SPARK_GRAFT_BENCH_PROBE") == "1"
        or "--probe" in sys.argv[1:]
    ):
        compact["probe"] = True
    full = dict(compact)
    full.update(
        {
            "samples": samples,
            "plan_fp_all_runs": plan_fps,
            "delta_vs_prev": deltas,
        }
    )
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL_LATEST.json"), "w") as f:
        json.dump(full, f, indent=1)
    # Append the full compact to the committed run history: the driver's
    # BENCH_r{N}.json keeps only a BOUNDED stdout tail (r7's grew past
    # it and the driver recorded parsed=null), so cross-round helpers
    # (_previous_bench, _best_recent_min) read this file instead.  One
    # entry per bench RUN (the driver runs once per round; local runs
    # between rounds only make the comparison basis fresher).
    hist_path = os.path.join(here, "bench_rounds.jsonl")
    try:
        with open(hist_path) as f:
            seq = sum(1 for _ in f)
    except OSError:
        seq = 0
    with open(hist_path, "a") as f:
        f.write(json.dumps({"seq": seq + 1, **compact}) + "\n")
    # The PRINTED line must survive a 2000-char stdout-tail capture: it
    # carries the headline metric, per-query medians and every FLAG
    # list; the per-query auxiliary dicts (mins, spreads, cold walls,
    # plan fingerprints, calibration, scale probes) live in
    # BENCH_FULL_LATEST.json + bench_rounds.jsonl.
    # The PRINTED line must survive the driver's 2000-char stdout-tail
    # capture (measured: BENCH_r11's captured tail is exactly 2000
    # chars and the r11 line was 1973 — one more key and the line is
    # FRONT-clipped, `index('{"metric"')` fails, and the round artifact
    # stops being usable as the next round's pinned basis).  So the
    # slim line carries ONLY the headline metric, per-query medians and
    # the flag lists; everything else lives in BENCH_FULL_LATEST.json +
    # the bench_rounds.jsonl twin, which _previous_round_bench matches
    # by (value, queries).  _SLIM_DROP_ORDER then defends against flag
    # lists growing in a bad round: least-essential keys are dropped
    # until the line fits, and the dropped names are recorded.
    slim = {
        k: compact[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "timing",
            "sf",
            "regressions_over_20pct",
            "value_envnorm",
            "regressions_envnorm_over_20pct",
            "prev_basis",
            "lane_gate_basis",
            "docscale_regressions_over_20pct",
            "tickscale_regressions_over_20pct",
            "sf1_regressions_over_20pct",
            "sf1grown_regressions_over_20pct",
            "clustered_regressions_over_20pct",
            "clustered_regressions_envnorm",
            "docscale_regressions_envnorm",
            "tickscale_regressions_envnorm",
            "sf1_regressions_envnorm",
            "sf1grown_regressions_envnorm",
            "plan_changed_vs_prev_round",
            "plan_changed_vs_prev_round_docscale",
            "plan_flaps_within_round",
            "env_shift_vs_prev",
            "env_shift_shuffle_vs_prev",
            "shared_cold_total",
            "prev_shared_cold_total",
            "docscale_shared_total",
            "prev_docscale_shared_total",
            "tickscale_shared_total",
            "prev_tickscale_shared_total",
            "sf1_total",
            "sf1grown_total",
            "detail",
        )
    }
    slim["drift_over_40pct_vs_best3_min"] = sorted(drift_vs_best3)
    _SLIM_DROP_ORDER = [
        "detail",
        "lane_gate_basis",
        "sf1_total",
        "sf1grown_total",
        "tickscale_shared_total",
        "prev_tickscale_shared_total",
        "docscale_shared_total",
        "prev_docscale_shared_total",
        "shared_cold_total",
        "prev_shared_cold_total",
        "plan_flaps_within_round",
        "clustered_regressions_envnorm",
        "clustered_regressions_over_20pct",
        "sf1grown_regressions_envnorm",
        "sf1_regressions_envnorm",
        "tickscale_regressions_envnorm",
        "docscale_regressions_envnorm",
        "drift_over_40pct_vs_best3_min",
        "plan_changed_vs_prev_round_docscale",
        "plan_changed_vs_prev_round",
        "sf1grown_regressions_over_20pct",
        "sf1_regressions_over_20pct",
        "tickscale_regressions_over_20pct",
        "docscale_regressions_over_20pct",
    ]
    _SLIM_LIMIT = 1900
    dropped = []

    def _slim_len() -> int:
        # measure WITH the prospective slim_dropped payload (ADVICE r12):
        # dropping several long key names used to push the printed line
        # back over the driver's 2000-char capture in exactly the bad
        # rounds the drop-order guard exists for
        payload = dict(slim)
        if dropped:
            payload["slim_dropped"] = dropped
        return len(json.dumps(payload))

    for key in _SLIM_DROP_ORDER:
        if _slim_len() <= _SLIM_LIMIT:
            break
        if key in slim:
            dropped.append(key)
            del slim[key]
    if dropped:
        slim["slim_dropped"] = dropped
    sys.stdout.flush()
    print(json.dumps(slim))


if __name__ == "__main__":
    main()
