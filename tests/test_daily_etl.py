"""E1 daily ETL end-to-end: raw JSON docs -> lake + DQ verdict."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from collections import Counter

from pyspark.sql import functions as F

from quant_market_data_pipeline_spark.plans.daily_etl import (
    daily_legs,
    exit_code,
    run_daily_etl,
)
from quant_market_data_pipeline_spark.plans.inspect import executed_plan_str

UTC = dt.timezone.utc


def _payload(
    symbol: str,
    base_price: float,
    skip: set[int],
    keep=lambda day, i: True,
    repeat: set[tuple[int, int]] = frozenset(),
) -> dict:
    """Two trading days (2024-05-01/02, Wed+Thu) of 5-min RTH bars in UTC
    (ET+4 in May): 13:30..19:25 UTC = 09:30..15:25 ET -> 72 bars/day.

    Bar ``i`` is left out when ``i`` is in ``skip`` or ``keep(day, i)`` is
    false; a ``(day, i)`` in ``repeat`` lands twice."""
    bars = []
    for day in (1, 2):
        start = dt.datetime(2024, 5, day, 13, 30, tzinfo=UTC)
        for i in range(72):
            if i in skip or not keep(day, i):
                continue
            ts = start + dt.timedelta(minutes=5 * i)
            px = base_price + 0.1 * i + day
            bar = {
                "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
                "open": px,
                "high": px + 0.5,
                "low": px - 0.5,
                "close": px,
                "volume": 100 + i,
            }
            bars += [bar, bar] if (day, i) in repeat else [bar]
    return {
        "symbol": symbol,
        "timeframe": "5Min",
        "source": "synthetic",
        "feed": "test",
        "start_utc": "2024-05-01T00:00:00+00:00",
        "end_utc": "2024-05-03T00:00:00+00:00",
        "bars": bars,
    }


def test_daily_etl_end_to_end(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    # leg B misses one bar on each day -> 71 bars -> WARN at tolerance 2
    (raw / "AAA_intraday_5min.json").write_text(
        json.dumps(_payload("AAA", 100.0, skip=set()))
    )
    (raw / "BBB_intraday_5min.json").write_text(
        json.dumps(_payload("BBB", 50.0, skip={10}))
    )

    out = str(tmp_path / "lake")
    summary = run_daily_etl(
        spark,
        str(raw),
        out,
        pairs=[("AAA", "BBB")],
        expected_bars=72,
        tolerance=2,
    )

    assert summary["ok"] is True
    assert summary["run_status"] == "WARN"  # the missing bars, tolerated
    # inner pair alignment drops the bar missing on leg B: 71/day, 2 legs
    assert summary["rows"] == 2 * 2 * 71
    assert summary["n_checks"] == 4  # 2 symbols x 2 days
    assert summary["n_warn"] == 4  # 71 < 72 on every (symbol, day)
    assert summary["max_missing"] == 1

    lake = spark.read.parquet(out)
    assert set(
        r["trading_date"].isoformat() for r in lake.select("trading_date").distinct().collect()
    ) == {"2024-05-01", "2024-05-02"}

    # z-score spot check: constant log-spread drift -> finite z after warmup
    row = (
        lake.filter(
            (F.col("symbol") == "AAA")
            & (F.col("timestamp") == dt.datetime(2024, 5, 1, 18, 30))
        )
        .select("spread", "z_score")
        .first()
    )
    i = (18 * 60 + 30 - (13 * 60 + 30)) // 5  # bar index 60
    want_spread = math.log(100.0 + 0.1 * i + 1) - math.log(50.0 + 0.1 * i + 1)
    assert abs(row["spread"] - want_spread) < 1e-9
    assert row["z_score"] is not None

    # idempotence: re-run overwrites the same partitions, no duplication
    n_before = lake.count()
    summary2 = run_daily_etl(
        spark, str(raw), out, pairs=[("AAA", "BBB")],
        expected_bars=72, tolerance=2,
    )
    assert summary2["rows"] == summary["rows"]
    assert spark.read.parquet(out).count() == n_before


def test_fake_fetcher_lands_bronze_contract(spark, tmp_path):
    """S1 seam: the landing adapter writes documents the bronze scan reads
    cleanly (no corrupt records), idempotently (re-land replaces)."""
    from quant_market_data_pipeline_spark.sources.ingest import (
        FakeBarsFetcher,
    )
    from quant_market_data_pipeline_spark.sources.json_bronze import (
        CORRUPT_COL,
        explode_to_bars,
        read_raw_json,
    )

    landing = str(tmp_path / "landing")
    fetcher = FakeBarsFetcher(bars_per_day=78)
    days = [dt.date(2024, 1, 8)]
    paths = fetcher.land(landing, ["AAA", "BBB"], days)
    assert len(paths) == 2
    paths2 = fetcher.land(landing, ["AAA", "BBB"], days)  # idempotent
    assert sorted(paths) == sorted(paths2)

    raw = read_raw_json(spark, landing).cache()
    try:
        assert raw.filter(F.col(CORRUPT_COL).isNotNull()).count() == 0
        bars = explode_to_bars(raw)
        assert bars.count() == 2 * 78
        assert {
            r["symbol"] for r in bars.select("symbol").distinct().collect()
        } == {"AAA", "BBB"}
    finally:
        raw.unpersist()


def test_daily_etl_cli_exit_code_contract(spark, tmp_path, capsys):
    """E1 orchestration contract: the CLI prints one JSON summary line and
    exits 0 on a passing run (what an external scheduler gates on)."""
    from quant_market_data_pipeline_spark.plans.daily_etl import (
        exit_code,
        main,
    )
    from quant_market_data_pipeline_spark.sources.ingest import (
        FakeBarsFetcher,
    )

    landing = str(tmp_path / "landing")
    FakeBarsFetcher(bars_per_day=78).land(
        landing, ["AAA", "BBB"], [dt.date(2024, 1, 8)]
    )
    rc = main(
        [
            landing,
            str(tmp_path / "lake"),
            "--pairs",
            "AAA:BBB",
            "--expected-bars",
            "78",
        ]
    )
    out = capsys.readouterr().out.strip().splitlines()[-1]
    summary = json.loads(out)
    assert rc == 0
    assert summary["run_status"] in ("OK", "WARN")
    # gate semantics: FAIL -> 1, WARN degrades but proceeds
    assert exit_code({"ok": False}) == 1
    assert exit_code({"ok": True}) == 0


def _land(raw, payloads: list[dict]) -> str:
    raw.mkdir()
    for doc in payloads:
        (raw / f"{doc['symbol']}_intraday_5min.json").write_text(json.dumps(doc))
    return str(raw)


def _closes(doc: dict) -> dict[dt.datetime, list[float]]:
    """Bar closes by naive-UTC timestamp, as the lake stores them: the
    silver cast is Decimal(15,4), then double."""
    out: dict[dt.datetime, list[float]] = {}
    for b in doc["bars"]:
        ts = dt.datetime.fromisoformat(b["timestamp"]).replace(tzinfo=None)
        out.setdefault(ts, []).append(round(b["close"], 4))
    return out


def _want_legs(docs: list[dict], pairs) -> Counter:
    """Multiset of lake ``(symbol, timestamp, close, spread)`` rows by the
    reference's per-pair inner join on timestamp."""
    closes = {d["symbol"]: _closes(d) for d in docs}
    want: Counter = Counter()
    for s1, s2 in pairs:
        for ts in closes[s1].keys() & closes[s2].keys():
            for c1 in closes[s1][ts]:
                for c2 in closes[s2][ts]:
                    sp = round(math.log(c1) - math.log(c2), 9)
                    want[(s1, ts, c1, sp)] += 1
                    want[(s2, ts, c2, -sp)] += 1
    return want


def _lake_legs(spark, out: str) -> Counter:
    return Counter(
        (r["symbol"], r["timestamp"], r["close"], round(r["spread"], 9))
        for r in spark.read.parquet(out)
        .select("symbol", "timestamp", "close", "spread")
        .collect()
    )


def test_daily_etl_duplicated_bar_keeps_join_multiplicity(spark, tmp_path):
    """A bar landed twice fans out like the pair inner join does: every
    leg-1 close pairs with every leg-2 close at a shared timestamp.  B is
    a leg of both chained pairs, so the duplicate reaches both."""
    docs = [
        _payload("AAA", 100.0, skip=set()),
        _payload("BBB", 50.0, skip=set(), repeat={(1, 5)}),
        _payload("CCC", 20.0, skip=set(), keep=lambda day, i: (day, i) != (2, 40)),
    ]
    pairs = [("AAA", "BBB"), ("BBB", "CCC")]
    out = str(tmp_path / "lake")
    summary = run_daily_etl(
        spark, _land(tmp_path / "raw", docs), out, pairs,
        expected_bars=72, tolerance=2,
    )

    want = _want_legs(docs, pairs)
    # (AAA,BBB): 73 + 72 aligned bars; (BBB,CCC): 73 + 71
    assert sum(want.values()) == 2 * (73 + 72 + 73 + 71)
    per_day = Counter((s, ts.date()) for (s, ts, _, _), n in want.items() for _ in range(n))
    missing = {k: max(0, 72 - n) for k, n in per_day.items()}
    assert summary == {
        "n_checks": len(per_day),
        "n_ok": sum(m == 0 for m in missing.values()),
        "n_warn": sum(0 < m <= 2 for m in missing.values()),
        "n_fail": 0,
        "max_missing": 1,
        "run_status": "WARN",
        "ok": True,
        "rows": sum(want.values()),
    }

    assert _lake_legs(spark, out) == want


def test_daily_etl_colliding_pair_names_stay_apart(spark, tmp_path):
    """("A_B", "C") and ("A", "B_C") share the name "A_B_C" but are two
    pairs: neither aligns against the other's legs."""
    docs = [
        _payload(s, 10.0 * (k + 1), set(), keep=lambda day, i, k=k: i % (k + 2) > 0)
        for k, s in enumerate(["A_B", "C", "A", "B_C"])
    ]
    pairs = [("A_B", "C"), ("A", "B_C")]
    out = str(tmp_path / "lake")
    summary = run_daily_etl(
        spark, _land(tmp_path / "raw", docs), out, pairs, expected_bars=72
    )
    want = _want_legs(docs, pairs)
    assert summary["rows"] == sum(want.values())
    assert _lake_legs(spark, out) == want


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        if not rel.startswith("trading_date="):
            continue
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.join(rel, f)] = fh.read()
    return out


def test_daily_etl_zero_row_run_touches_no_partition(spark, tmp_path):
    """Legs that share no timestamp give an empty result: the run fails
    the gate and leaves every partition already in the lake as it was."""
    out = str(tmp_path / "lake")
    first = run_daily_etl(
        spark,
        _land(tmp_path / "raw", [_payload("AAA", 100.0, set()), _payload("BBB", 50.0, set())]),
        out, pairs=[("AAA", "BBB")], expected_bars=72,
    )
    assert first["ok"] is True
    before = _tree(out)
    dirs_before = sorted(d for d in os.listdir(out) if d.startswith("trading_date="))
    assert len(dirs_before) == 2 and before

    disjoint = _land(
        tmp_path / "raw2",
        [
            _payload("AAA", 100.0, set(), keep=lambda day, i: i % 2 == 0),
            _payload("BBB", 50.0, set(), keep=lambda day, i: i % 2 == 1),
        ],
    )
    summary = run_daily_etl(
        spark, disjoint, out, pairs=[("AAA", "BBB")], expected_bars=72
    )
    assert summary == {"ok": False, "reason": "empty result", "rows": 0}
    assert exit_code(summary) == 1
    assert sorted(d for d in os.listdir(out) if d.startswith("trading_date=")) == dirs_before
    assert _tree(out) == before


def test_daily_etl_scans_bronze_once(spark, tmp_path):
    """The written frame holds one bronze scan whatever the pair count:
    the pair list is a broadcast dimension, not one leg filter per pair."""
    raw = _land(
        tmp_path / "raw",
        [_payload(s, 10.0 * (k + 1), set()) for k, s in enumerate(["AAA", "BBB", "CCC", "DDD"])],
    )
    for pairs in ([("AAA", "BBB")], [("AAA", "BBB"), ("BBB", "CCC"), ("CCC", "DDD")]):
        plan = executed_plan_str(daily_legs(spark, raw, pairs))
        assert plan.count("FileScan json") == 1, plan
