"""Seeded input generators, one per workload.

Every generator takes the seed as an argument and writes only under the
directory it is given.  The same (seed, scale) always gives byte-identical
inputs; a different seed gives different values of the same size, so run
times stay comparable across seeds.  Each returns a small ``dict`` that
describes what it wrote, including the closed-form expectations the
output checks compare against.
"""

from __future__ import annotations

import datetime as dt
import os
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ET = ZoneInfo("America/New_York")
UTC = dt.timezone.utc

# Shapes below were measured on the star schema the repo's DuckDB-oracle
# queries run against (testdata sf0.1, see FIXTURES.md group B); README.md
# lists the figures.  ``gen_star`` and ``gen_corpus`` give sf0.1's row
# counts at ``scale=1.0``.
#
# documents: words drawn uniformly from this 30-word vocabulary, 10..100
# words a document; 5% are near-duplicates (an earlier document plus the
# word "dup"); lang 41% en, the rest even; source = src{doc_id % 20}.
VOCAB = (
    "a the data spark stream batch table row column key value query join "
    "group agg sort hash scan filter window merge part line order customer "
    "vector fast slow big small"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
NEAR_DUP_SHARE = 0.05
# embeddings: 64-dim unit vectors, uniform on the sphere, label uniform
# over 10 values and independent of the vector
EMB_DIM, EMB_LABELS = 64, 10


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- research_queries: star schema + events + documents ---------------------


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lengths.sum())
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    return texts


def _day_us(start: str, days: int, rng, n: int) -> np.ndarray:
    """Random midnight timestamps (micros) in [start, start + days)."""
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, days, n) * 86_400_000_000


def gen_star(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Star schema (region .. lineitem) and events.

    Keys and values are uniform and independent over the ranges measured
    on sf0.1, as there: events over 30 days with 1,500 users, five event
    types and exponential(50) values; 4 lineitems per order on average.
    """
    rng = _rng(seed, "star")
    n_events = max(1000, int(100_000 * scale))
    n_cust = max(100, int(15_000 * scale))
    n_orders = max(500, int(150_000 * scale))
    n_line = 4 * n_orders

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + rng.integers(0, 30 * 86_400_000_000, n_events)
    events = pa.table(
        {
            "event_id": pa.array(rng.permutation(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
            "event_type": pa.array(
                np.array(["signup", "click", "error", "view", "purchase"])[
                    rng.integers(0, 5, n_events)
                ]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(
        ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": pa.array(
                _day_us("1995-01-01", 2405, rng, n_orders), pa.timestamp("us")
            ),
            "o_orderpriority": priorities[rng.integers(0, 5, n_orders)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20000, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1000, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(
                _day_us("1995-01-02", 2499, rng, n_line), pa.timestamp("us")
            ),
        }
    )
    tables = {
        "events": events,
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"rows": {k: t.num_rows for k, t in tables.items()}}


def query_order(seed: int, names: list[str]) -> list[str]:
    """Seeded order of the query mix (every query once per pass)."""
    rng = _rng(seed, "mix")
    return [names[i] for i in rng.permutation(len(names))]


# --- corpus_dedup: documents and embeddings ---------------------------------


def gen_corpus(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Documents and embeddings in sf0.1's measured shape.

    Near-duplicates copy a document made before them, which may itself be
    a near-duplicate, and append " dup"; two that copy the same document
    are exact duplicates of each other.  The rows are then shuffled.
    """
    rng = _rng(seed, "corpus")
    n_docs = max(100, int(5_000 * scale))
    n_dup = int(n_docs * NEAR_DUP_SHARE)
    texts = _texts(rng, n_docs - n_dup)
    for _ in range(n_dup):
        texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
    texts = [texts[i] for i in rng.permutation(n_docs)]
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    n_emb = max(100, int(2_000 * scale))
    vecs = rng.normal(0, 1, (n_emb, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, EMB_LABELS, n_emb), pa.int32()),
        }
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"rows": {"documents": docs.num_rows, "embeddings": emb.num_rows}}


# --- etl_daily: bronze landing documents ------------------------------------

EXPECTED_BARS = 78  # 09:30 .. 15:55 ET
TOLERANCE = 2


def _trading_days(rng: np.random.Generator, n: int) -> list[dt.date]:
    day = dt.date(2024, 1, 8) + dt.timedelta(days=int(rng.integers(0, 240)))
    out = []
    while len(out) < n:
        if day.weekday() < 5:
            out.append(day)
        day += dt.timedelta(days=1)
    return out


def _bar_slots(day: dt.date) -> list[tuple[int, dt.datetime]]:
    """(slot, utc bar start) for 09:10 .. 16:05 ET; RTH slots are 0..77,
    the four pre-open and two post-close bars get slots < 0 / > 77."""
    open_et = dt.datetime(day.year, day.month, day.day, 9, 30, tzinfo=ET)
    return [
        (i, (open_et + dt.timedelta(minutes=5 * i)).astimezone(UTC))
        for i in range(-4, EXPECTED_BARS + 2)
    ]


def _doc(rng, symbol: str, day: dt.date, present: set[int]) -> dict:
    bars = []
    px = float(rng.uniform(20, 400))
    for slot, ts in _bar_slots(day):
        px = max(1.0, px * float(np.exp(rng.normal(0, 0.002))))
        if 0 <= slot < EXPECTED_BARS and slot not in present:
            continue
        o = round(px, 4)
        bars.append(
            {
                "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
                "open": o,
                "high": round(o * 1.001, 4),
                "low": round(o * 0.999, 4),
                "close": round(px * float(np.exp(rng.normal(0, 0.001))), 4),
                "volume": int(rng.integers(100, 10_000)),
            }
        )
    return {
        "symbol": symbol,
        "timeframe": "5Min",
        "source": "perfbench",
        "feed": "synthetic",
        "start_utc": bars[0]["timestamp"],
        "end_utc": bars[-1]["timestamp"],
        "bars": bars,
    }


def expected_etl(
    present: dict[tuple[str, dt.date], set[int]], pairs: list[tuple[str, str]]
) -> dict:
    """Closed-form DQ summary of ``run_daily_etl`` over the given bars.

    Rows: each pair contributes its timestamps present on both legs, once
    per leg.  The completeness report counts rows per (symbol, day) over
    ALL pairs the symbol is a leg of.
    """
    days = sorted({d for _, d in present})
    counts: dict[tuple[str, dt.date], int] = {}
    rows = 0
    for a, b in pairs:
        for d in days:
            both = len(present.get((a, d), set()) & present.get((b, d), set()))
            rows += 2 * both
            if both:
                for s in (a, b):
                    counts[(s, d)] = counts.get((s, d), 0) + both
    missing = [max(0, EXPECTED_BARS - c) for c in counts.values()]
    n_ok = sum(m == 0 for m in missing)
    n_warn = sum(0 < m <= TOLERANCE for m in missing)
    n_fail = sum(m > TOLERANCE for m in missing)
    status = "FAIL" if n_fail else "WARN" if n_warn else "OK"
    return {
        "rows": rows,
        "n_checks": len(counts),
        "n_ok": n_ok,
        "n_warn": n_warn,
        "n_fail": n_fail,
        "max_missing": max(missing) if missing else None,
        "run_status": status,
        "leaves": len({d for _, d in counts}),
    }


def gen_landing(
    out_dir: str, seed: int, scale: float = 1.0, write_doc=None
) -> dict:
    """Bronze landing dirs for one backfill and one new day.

    ``write_doc(landing_dir, name, doc)`` lands one document; the
    benchmark passes the engine's ``sources.ingest.write_landing_doc``.
    Pairs form a chain (s0,s1), (s1,s2), ... so inner symbols are legs of
    two pairs.  A seeded share of RTH bars is missing and a seeded share
    of documents is corrupt: their ``bars`` field is a string, which the
    bronze reader's explicit schema rejects into the quarantine column.
    """
    rng = _rng(seed, "landing")
    n_pairs = max(1, round(2 * scale))
    n_days = max(3, round(21 * scale))
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    symbols: list[str] = []
    while len(symbols) < n_pairs + 1:
        s = "".join(rng.choice(letters, 4))
        if s not in symbols:
            symbols.append(s)
    pairs = [(symbols[i], symbols[i + 1]) for i in range(n_pairs)]
    days = _trading_days(rng, n_days + 1)
    parts = {"backfill": days[:-1], "daily": days[-1:]}

    expect, dirs, n_docs, n_bars, corrupt = {}, {}, {}, {}, []
    for part, part_days in parts.items():
        landing = os.path.join(out_dir, part)
        present: dict[tuple[str, dt.date], set[int]] = {}
        docs = bars = 0
        for d in part_days:
            for s in symbols:
                name = f"{s}_{d.isoformat()}.json"
                keep = {
                    i for i in range(EXPECTED_BARS) if rng.random() >= 0.015
                }
                doc = _doc(rng, s, d, keep)
                # corrupt documents only in the backfill: a corrupt middle
                # leg would leave the one-day run with no pair at all
                if part == "backfill" and rng.random() < 0.04:
                    doc["bars"] = "truncated upstream payload"
                    corrupt.append({"part": part, "symbol": s, "day": d.isoformat()})
                else:
                    present[(s, d)] = keep
                    bars += len(doc["bars"])
                write_doc(landing, name, doc)
                docs += 1
        dirs[part] = landing
        expect[part] = expected_etl(present, pairs)
        n_docs[part] = docs
        n_bars[part] = bars
    return {
        "dirs": dirs,
        "pairs": pairs,
        "expect": expect,
        "docs": n_docs,
        "bars": n_bars,
        "corrupt": corrupt,
    }


# --- stream_bars: tick files ------------------------------------------------

WATERMARK_MIN = 10


def gen_ticks(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Parquet tick files, one per 5-minute slice of event time.

    Files are given increasing mtimes so the file source reads them in
    slice order.  A seeded share of ticks is duplicated (the copy lands in
    the same or the next file, inside the dedup horizon) and a seeded
    share of late ticks lands, from the third micro-batch on, more than
    the watermark delay plus 20 minutes behind the newest tick of the
    micro-batches before the previous one, so the stream must drop them.
    """
    rng = _rng(seed, "ticks")
    n_files = 9
    files_per_trigger = 3
    per_file = max(200, int(2_000 * scale))
    n_sym = 16
    symbols = [f"T{i:02d}" for i in range(n_sym)]
    t0 = int(
        np.datetime64("2024-03-04T14:30:00", "us").astype(np.int64)
        + rng.integers(0, 200) * 86_400_000_000
    )
    slice_us = 300_000_000
    wm_us = WATERMARK_MIN * 60_000_000

    base_price = rng.uniform(20, 400, n_sym)
    files: list[dict[str, list]] = [
        {"event_id": [], "ts": [], "symbol": [], "price": []}
        for _ in range(n_files)
    ]
    clean: dict[str, list] = {"event_id": [], "ts": [], "symbol": [], "price": []}
    next_id = 0
    max_ts_by_batch: list[int] = []
    n_dup = n_late = 0
    for f in range(n_files):
        batch = f // files_per_trigger
        ts = np.sort(t0 + f * slice_us + rng.integers(0, slice_us, per_file))
        sym = rng.integers(0, n_sym, per_file)
        px = np.round(base_price[sym] * np.exp(rng.normal(0, 0.003, per_file)), 4)
        for t, s, p in zip(ts.tolist(), sym.tolist(), px.tolist()):
            row = (next_id, t, symbols[s], p)
            next_id += 1
            for k, v in zip(clean, row):
                clean[k].append(v)
                files[f][k].append(v)
            if rng.random() < 0.03:
                g = min(n_files - 1, f + int(rng.integers(0, 2)))
                for k, v in zip(files[g], row):
                    files[g][k].append(v)
                n_dup += 1
        if batch >= 2:
            # a stateful operator drops rows older than the watermark the
            # batch before last ended with (Spark's late-event watermark)
            horizon = max(max_ts_by_batch[: batch - 1]) - wm_us - 20 * 60_000_000
            for _ in range(int(per_file * 0.01)):
                t = horizon - int(rng.integers(0, slice_us))
                row = (next_id, t, symbols[int(rng.integers(0, n_sym))], 1.0)
                next_id += 1
                for k, v in zip(files[f], row):
                    files[f][k].append(v)
                n_late += 1
        if len(max_ts_by_batch) <= batch:
            max_ts_by_batch.append(int(ts.max()))
        else:
            max_ts_by_batch[batch] = max(max_ts_by_batch[batch], int(ts.max()))

    landing = os.path.join(out_dir, "landing")
    warm = os.path.join(out_dir, "warm")
    mtime0 = 1_700_000_000
    for f, cols in enumerate(files):
        table = pa.table(
            {
                "event_id": pa.array(cols["event_id"], pa.int64()),
                "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
                "symbol": pa.array(cols["symbol"], pa.string()),
                "price": pa.array(cols["price"], pa.float64()),
            }
        )
        # the warm-up drain reads the first trigger's files, in a dir of
        # its own
        for d in (landing, warm) if f < files_per_trigger else (landing,):
            path = os.path.join(d, f"ticks_{f:03d}.parquet")
            _write(table, path)
            os.utime(path, (mtime0 + f, mtime0 + f))
    n_rows = sum(len(c["event_id"]) for c in files)
    return {
        "landing": landing,
        "warm_landing": warm,
        "warm_ticks": sum(len(c["event_id"]) for c in files[:files_per_trigger]),
        "clean": clean,
        "ticks": n_rows,
        "duplicates": n_dup,
        "late": n_late,
        "files": n_files,
        "files_per_trigger": files_per_trigger,
        "final_watermark_us": max(max_ts_by_batch) - wm_us,
    }
