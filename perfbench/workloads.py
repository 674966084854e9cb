"""The workloads.  Each generates its inputs from the seed, warms the
session, and runs passes of operations through the harness.

``warm`` runs untimed operations first: a full pass whose outputs are
checked against the query oracles, or (``etl_daily``) the same plans over
a slice of the inputs.  The timed passes check cheaply in the loop (row
counts, DQ summaries) and ``check_after`` checks written outputs in full
once the timed window has closed.
"""

from __future__ import annotations

import os
import shutil

import gen
from checks import (
    Mismatch,
    Oracle,
    check_etl_summary,
    check_lake,
    check_stream_output,
)
from harness import Harness, med


def _warm_python_workers(spark) -> None:
    """Start the Python worker pool (the Arrow UDF path) before timing."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def ident(s):
        return s * 1.0

    spark.range(64).repartition(4).select(ident(F.col("id").cast("double"))).count()


class Workload:
    name = ""
    item = "operation"  # what items_per_s counts
    min_passes = 1  # timed passes run even when --seconds has passed

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.info: dict = {}

    def generate(self) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """Per-session warm-up (part of set-up): first scans, workers."""
        _warm_python_workers(spark)

    def run_pass(self, h: Harness) -> None:
        raise NotImplementedError

    def warm(self, h: Harness) -> None:
        """Untimed first runs of the pass's plans."""
        raise NotImplementedError

    def check_after(self, h: Harness) -> None:
        """Checks of written outputs, run after the timed window."""

    def details(self, ops, passes) -> dict:
        return {}


class ResearchQueries(Workload):
    """Short interactive market and TPC-H queries, and the corpus dedup and
    similarity queries, in one seed-ordered mix; every query once a pass."""

    name = "research_queries"
    item = "query"
    # Two timed passes, each query at its better wall: a query is short
    # enough that a busy spell of the shared host can slow it by half.
    min_passes = 2
    # One query per layer the workload loads; the rest (rollups, TCA,
    # concurrency, the TPC-H joins, SimHash, IVF) repeat a plan shape
    # already here and would not fit the run-time budget.
    market = [
        "flagship_pair_zscore",  # plans/flagship.py
        "bars_5min_ohlcv",  # operators/bars.py
        "missing_buckets_audit",  # operators/grid.py
        "asof_join_backward",  # operators/asof.py
        "ks_source_drift",  # session.materialize_dim
        "pricing_summary",  # functions/exact.py
    ]
    corpus = [
        "dedup_exact_docs",  # llm/dedup.py exact
        "text_stats",  # llm/text.py
        # llm/similarity.py, session.materialize_corpus, Arrow pandas_udf
        "ann_lsh_topk",
    ]
    # Run once, in the warm-up pass only: checked against its oracle and
    # traced for its candidate-pair join (llm/hashing.py), but at 2.5 s
    # warm it would not fit two timed passes into the run-time budget.
    warm_only = ["minhash_lsh_pairs"]
    tables = ["events", "region", "nation", "customer", "orders", "lineitem",
              "documents", "embeddings"]
    # Fractions of sf0.1's row counts (sf0.01's star, 1,500 documents and
    # 600 embeddings): at sf0.1 a run takes about 85 s on 4 cores, past
    # its share of the time budget (README.md).
    star_scale = 0.1
    corpus_scale = 0.3

    def generate(self) -> None:
        from quant_market_data_pipeline_spark.queries import load_all

        sf_dir = os.path.join(self.work, "sf")
        star = gen.gen_star(sf_dir, self.seed, self.star_scale * self.scale)
        corpus = gen.gen_corpus(sf_dir, self.seed, self.corpus_scale * self.scale)
        self.info = {"sf_dir": sf_dir, "rows": {**star["rows"], **corpus["rows"]}}
        self.registry = load_all()
        self.order = gen.query_order(self.seed, self.market + self.corpus)
        self.rows: dict[str, int] = {}

    def warmup(self, spark) -> None:
        from quant_market_data_pipeline_spark.sources.tables import load_table

        load_table(spark, self.tables[0], self.info["sf_dir"]).count()
        super().warmup(spark)

    def run_pass(self, h: Harness, oracle: Oracle | None = None,
                 extra: tuple[str, ...] = ()) -> None:
        sf_dir = self.info["sf_dir"]
        for name in [*self.order, *extra]:
            spec = self.registry[name]

            def check(table, op, name=name, spec=spec):
                op.extra["rows"] = table.num_rows
                if oracle is not None:
                    oracle.check(name, spec.oracle, table)
                    self.rows[name] = table.num_rows
                elif self.rows.get(name) != table.num_rows:
                    raise Mismatch(
                        f"{name}: {table.num_rows} rows, warm-up had "
                        f"{self.rows.get(name)}"
                    )

            h.run(
                name,
                "corpus" if name in self.corpus + self.warm_only else "query",
                build=lambda spec=spec: spec.spark(h.spark, sf_dir),
                action=lambda df: df.toArrow(),
                check=check,
            )

    def warm(self, h: Harness) -> None:
        """One full pass and the warm-only queries, each output checked
        against its DuckDB oracle."""
        oracle = Oracle(self.info["sf_dir"], self.tables)
        try:
            self.run_pass(h, oracle, tuple(self.warm_only))
        finally:
            oracle.close()

    def details(self, ops, passes) -> dict:
        walls = [o.wall for o in ops if o.name in self.market]
        return {
            "query_p50_s": med(walls),
            "queries_per_s": len(walls) / sum(walls) if walls else 0.0,
            "corpus_pass_s": med(
                sum(o.wall for o in p if o.name in self.corpus) for p in passes
            ),
        }


class EtlDaily(Workload):
    """The reference's daily job and its live twin, one pass each:
    a backfill into an empty lake, one new day into that lake, and an
    availableNow drain of the tick landing dir with fresh state."""

    name = "etl_daily"
    item = "market-data record"
    width_us = 300_000_000

    def generate(self) -> None:
        from quant_market_data_pipeline_spark.sources.ingest import write_landing_doc

        self.info = gen.gen_landing(
            os.path.join(self.work, "landing"), self.seed, self.scale,
            write_doc=write_landing_doc,
        )
        self.ticks = gen.gen_ticks(os.path.join(self.work, "ticks"), self.seed, self.scale)
        self.info["tick_files"] = {
            k: self.ticks[k] for k in ("files", "ticks", "duplicates", "late")
        }
        self.lakes: list[str] = []
        self.outputs: list[str] = []

    def warmup(self, spark) -> None:
        from quant_market_data_pipeline_spark.sources.json_bronze import read_raw_json

        for d in self.info["dirs"].values():
            read_raw_json(spark, d).count()
        super().warmup(spark)

    def run_pass(self, h: Harness) -> None:
        from quant_market_data_pipeline_spark.plans.daily_etl import run_daily_etl

        k = len(self.lakes)
        lake = os.path.join(self.work, f"lake{k}")
        shutil.rmtree(lake, ignore_errors=True)
        self.lakes.append(lake)
        info = self.info
        for part in ("backfill", "daily"):
            h.run(
                f"etl_{part}",
                f"etl_{part}",
                build=lambda: None,
                action=lambda _, part=part: run_daily_etl(
                    h.spark, info["dirs"][part], lake, info["pairs"],
                    expected_bars=gen.EXPECTED_BARS, tolerance=gen.TOLERANCE,
                ),
                check=lambda summary, op, part=part: check_etl_summary(
                    summary, info["expect"][part]
                ),
                items=info["bars"][part],
            )
        run = os.path.join(self.work, f"stream{k}")
        self.outputs.append(os.path.join(run, "out"))
        self._drain(
            h, lambda: self._start(h.spark, self.ticks["landing"], run),
            self.ticks["ticks"],
        )

    def _start(self, spark, landing: str, run: str):
        """Start an availableNow drain of ``landing`` with fresh state."""
        from quant_market_data_pipeline_spark.streaming.bars_stream import TICK_SCHEMA
        from quant_market_data_pipeline_spark.streaming.pipeline import run_live_bars

        shutil.rmtree(run, ignore_errors=True)
        return run_live_bars(
            spark, landing, os.path.join(run, "out"),
            os.path.join(run, "checkpoint"),
            schema=TICK_SCHEMA, fmt="parquet", available_now=True,
            max_files_per_trigger=self.ticks["files_per_trigger"],
        )

    def _drain(self, h: Harness, start, n_ticks: int) -> None:
        def drain(query):
            query.awaitTermination()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            return query.recentProgress

        def check(progress, op):
            batches = [p for p in progress if p["numInputRows"] > 0]
            rows = sum(p["numInputRows"] for p in batches)
            if rows != n_ticks:
                raise Mismatch(f"stream read {rows} ticks of {n_ticks}")
            op.extra["batches"] = [_batch_metrics(p) for p in batches]

        h.run(
            "stream_drain",
            "stream",
            build=start,
            action=drain,
            check=check,
            items=n_ticks,
            groups=lambda q: (str(q.runId),) if q is not None else (),
        )

    def warm(self, h: Harness) -> None:
        """The same plans over the one-day landing dir and the first
        trigger's tick files: first runs compile what the timed pass
        reuses, at a fraction of its cost.  The warm-up drain runs in the
        background during the warm-up ETL, to keep the run short."""
        from quant_market_data_pipeline_spark.plans.daily_etl import run_daily_etl

        info = self.info
        query = self._start(
            h.spark, self.ticks["warm_landing"], os.path.join(self.work, "warm_stream")
        )
        h.run(
            "warm_etl",
            "warm",
            build=lambda: None,
            action=lambda _: run_daily_etl(
                h.spark, info["dirs"]["daily"], os.path.join(self.work, "warm_lake"),
                info["pairs"], expected_bars=gen.EXPECTED_BARS,
                tolerance=gen.TOLERANCE,
            ),
            check=lambda summary, op: check_etl_summary(
                summary, info["expect"]["daily"]
            ),
        )
        self._drain(h, lambda: query, self.ticks["warm_ticks"])

    def check_after(self, h: Harness) -> None:
        check_lake(h.spark, self.lakes[-1], self.info)
        check_stream_output(h.spark, self.outputs[-1], self.ticks, self.width_us)

    def details(self, ops, passes) -> dict:
        out = {
            f"etl_{p}_s": med(o.wall for o in ops if o.kind == f"etl_{p}")
            for p in ("backfill", "daily")
        }
        streams = [o for o in ops if o.kind == "stream"]
        batches = [b["trigger_ms"] / 1e3 for o in streams for b in o.extra["batches"]]
        out["stream_ticks_per_s"] = (
            sum(o.items for o in streams) / sum(o.wall for o in streams)
            if streams else 0.0
        )
        out["stream_batch_p50_s"] = med(batches)
        return out


def _batch_metrics(p: dict) -> dict:
    d = p.get("durationMs", {})
    state = p.get("stateOperators", [])
    return {
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "wal_commit_ms": d.get("walCommit", 0),
        "commit_offsets_ms": d.get("commitOffsets", 0),
        "query_planning_ms": d.get("queryPlanning", 0),
        "state_rows": sum(s.get("numRowsTotal", 0) for s in state),
        "state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
        "state_commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
        "rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in state
        ),
    }


WORKLOADS = {w.name: w for w in (EtlDaily, ResearchQueries)}
