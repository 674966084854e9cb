"""Query registry: named queries with DuckDB oracle twins.

Every operator family from SURVEY.md §2 (and the LLM-data extensions) is
exposed as a named query: a callable ``(spark, sf_dir) -> DataFrame`` plus,
where SQL-expressible, an equivalent ANSI-SQL string the DuckDB oracle runs
on the same parquet tables.  ``__spark_entry__.py`` re-exports this
registry to the correctness driver.

Conventions (driver contract):
- every computed column is aliased identically in Spark and SQL;
- floating aggregates that are sensitive to summation order are rounded to
  a fixed precision on BOTH sides (the comparison is on rounded values);
- timestamps are naive UTC on both sides (session tz pinned to UTC).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> driver runs rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a (spark_fn, oracle_sql) pair to the registry.

    Re-registering an existing name raises: a silent overwrite would
    let a new query SHADOW an old implementation while inheriting its
    green correctness history — registry corruption no gate would see.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(
                f"query {name!r} is already registered "
                f"(by {REGISTRY[name].spark.__module__}."
                f"{REGISTRY[name].spark.__qualname__}); duplicate "
                "registration would silently shadow it — pick a new name"
            )
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# Queries whose implementation, shared operator or oracle changed after
# their last passing CORRECTNESS_r*.json verdict.  load_all() lists them
# first, in this order, so a verifier that checks only a prefix of the
# registry re-checks them before anything else.  Add a name when a change
# touches the query, its oracle or an operator it shares; drop it once a
# committed CORRECTNESS_r*.json passes it.
TOUCHED = [
    # rank-distance pairs formed with lead() over the ranking window
    "snm_neardup_pairs",
    "snm_neardup_pairs_2pass",
    # bounded-sample broadcast on 8-byte hashed keys; oracle co-edited
    "minhash_recall_audit",
    # gram-frame materialization reverted
    "dup_span_coverage",
    # cell-assign L2 fold unrolled (llm/similarity.py l2_sq(dim=)); then,
    # with the rest of the family below, rewritten over the recall-audit
    # kernel (llm/similarity.py) and the shared _sql_* oracle fragments
    "ann_ivfpq_recall_audit",
    "ann_ivfpq_adaptive_recall_audit",
    "ann_ivfpq_residual_recall_audit",
    "ann_ivfpq_trained_recall_audit",
    "ann_recall_audit",
    "ann_mt_recall_audit",
    "ann_mp_recall_audit",
    "ann_ivf_recall_audit",
    "pq_reconstruction_report",
    "pq_adc_recall_audit",
    "pq_trained_recall_audit",
    "pq_trained_distortion_report",
    "pq_residual_distortion_report",
    "sq8_recall_audit",
    "opq_rotation_recall_audit",
    # started through session.start_stream (per-core state partitions);
    # the five sketch sinks also write one file per batch leaf; then
    # moved onto the shared batch_id_sink / drain / kill_and_resume
    "stream_attribution_e2e",
    "stream_bars_5min_e2e",
    "stream_bloom_e2e",
    "stream_countmin_e2e",
    "stream_crash_recovery_e2e",
    "stream_hll_distinct_e2e",
    "stream_kmv_e2e",
    "stream_minhash_e2e",
    "stream_quantile_e2e",
    "stream_rsi_e2e",
    "stream_sessionize_e2e",
    "stream_vector_index_e2e",
    "stream_vpin_e2e",
    "stream_zscore_crash_e2e",
    "stream_zscore_e2e",
]

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_ARTIFACT_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def _verdict_passed(entry) -> bool:
    """True iff a CORRECTNESS_r*.json entry records a PASSING check.

    Strict entries pass on ``hash_match: true``; rows-only entries (the
    weaker check for queries without an oracle, recorded as
    ``err: "no_oracle"``) pass when the query ran and produced a row
    count.  A failed strict compare (hash/rows mismatch) or a real error
    must NOT reset the staleness clock — the query still needs
    re-confirmation.
    """
    if not isinstance(entry, dict):
        return False
    if entry.get("hash_match") is True:
        return True
    return entry.get("err") == "no_oracle" and entry.get("spark_rows") is not None


def last_verified_rounds(repo_root: str = _REPO_ROOT) -> dict[str, int]:
    """name -> highest round N whose CORRECTNESS_r{N}.json records a
    PASSING verdict for it (see _verdict_passed)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = _ARTIFACT_RE.search(path)
        if not m:
            continue
        n = int(m.group(1))
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(doc, dict):
            continue
        for name, entry in doc.items():
            if _verdict_passed(entry):
                out[name] = max(out.get(name, 0), n)
    return out


def priority_order(
    names: list[str],
    repo_root: str = _REPO_ROOT,
    touched: list[str] = TOUCHED,
) -> list[str]:
    """``names`` in correctness-priority order: the registered ``touched``
    names in listed order, then the rest stalest first — by the round of
    their last passing verdict (never verified sorts first), ties broken
    by md5("r{N}:" + name) with N the round after the newest artifact."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))
        if (m := _ARTIFACT_RE.search(p))
    ]
    tag = f"r{max(rounds, default=0) + 1}:"
    seen = last_verified_rounds(repo_root)
    lead = [n for n in touched if n in names]

    def key(name: str):
        tie = hashlib.md5(f"{tag}{name}".encode()).hexdigest()
        return (seen.get(name, -1), tie)

    return lead + sorted((n for n in names if n not in lead), key=key)


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side-effect: fills REGISTRY).

    Returns the registry in ``priority_order``: TOUCHED first, then the
    queries whose last passing verdict is oldest.
    """
    from quant_market_data_pipeline_spark.queries import (  # noqa: F401
        core,
        curation,
        drift,
        execution,
        graph,
        llm,
        pipeline_ops,
        quant,
        relational,
        risk,
        streaming_e2e,
        textprep,
        tpch,
    )

    return {n: REGISTRY[n] for n in priority_order(list(REGISTRY))}
