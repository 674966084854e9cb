"""Output checks.  Each raises ``Mismatch`` when an output is wrong."""

from __future__ import annotations

import datetime as dt
import os

import duckdb

from tools.check_oracle import canon, values_close


class Mismatch(AssertionError):
    pass


def _from_arrow(v):
    """What ``collect()`` would give for an Arrow value: naive UTC
    datetimes, and lists as tuples."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_from_arrow(x) for x in v)
    return v


class Oracle:
    """The registered DuckDB twin of each query, compared the way
    ``tools/check_oracle.py`` compares (order-insensitive, floats to
    1e-7).  Its views are made here: the generated inputs hold only the
    tables the mix reads, where ``duck_con`` wants all of them."""

    def __init__(self, sf_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, sql: str, arrow_table) -> None:
        res = self.con.execute(sql)
        want, want_cols = canon(
            res.fetchall(), [d[0].lower() for d in res.description]
        )
        got, got_cols = canon(
            [tuple(_from_arrow(x) for x in r.values())
             for r in arrow_table.to_pylist()],
            [c.lower() for c in arrow_table.column_names],
        )
        if got_cols != want_cols:
            raise Mismatch(f"{name}: columns {got_cols} != oracle {want_cols}")
        if len(got) != len(want):
            raise Mismatch(f"{name}: {len(got)} rows != oracle {len(want)}")
        bad = sum(
            len(g) != len(w) or not all(map(values_close, g, w))
            for g, w in zip(got, want)
        )
        if bad:
            raise Mismatch(f"{name}: {bad}/{len(got)} rows differ from oracle")


def check_etl_summary(got: dict, want: dict) -> None:
    for k in ("rows", "n_checks", "n_ok", "n_warn", "n_fail", "max_missing",
              "run_status"):
        if got.get(k) != want[k]:
            raise Mismatch(f"etl {k}: {got.get(k)!r} != expected {want[k]!r}")


def check_lake(spark, lake: str, landing: dict) -> None:
    """Lake rows and leaves after backfill + daily; corrupt documents are
    in the bronze quarantine and none of their (symbol, day) rows reached
    the lake."""
    from pyspark.sql import functions as F

    from quant_market_data_pipeline_spark.sources.json_bronze import (
        corrupt_records,
        read_raw_json,
    )

    exp = landing["expect"]
    lake_df = spark.read.parquet(lake)
    rows = lake_df.count()
    if rows != exp["backfill"]["rows"] + exp["daily"]["rows"]:
        raise Mismatch(f"lake rows {rows} != expected")
    leaves = [d for d in os.listdir(lake) if d.startswith("trading_date=")]
    if len(leaves) != exp["backfill"]["leaves"] + exp["daily"]["leaves"]:
        raise Mismatch(f"lake leaves {len(leaves)} != expected")
    for part, landing_dir in landing["dirs"].items():
        bad = [c for c in landing["corrupt"] if c["part"] == part]
        raw = read_raw_json(spark, landing_dir)
        n_q = corrupt_records(raw).count()
        raw.unpersist()
        if n_q != len(bad):
            raise Mismatch(f"{part}: quarantine {n_q} != corrupt docs {len(bad)}")
    if landing["corrupt"]:
        corrupt = spark.createDataFrame(
            [(c["symbol"], c["day"]) for c in landing["corrupt"]],
            "symbol string, day string",
        ).select("symbol", F.col("day").cast("date").alias("trading_date"))
        leaked = lake_df.join(corrupt, ["symbol", "trading_date"]).count()
        if leaked:
            raise Mismatch(f"corrupt documents leaked {leaked} rows to the lake")


def expected_bars(ticks: dict, width_us: int, closed_before_us: int):
    """Batch OHLCV oracle over the deduplicated, in-time ticks: open/close
    by (ts, event_id), windows whose end is at or before the cutoff."""
    import pandas as pd

    df = pd.DataFrame(ticks).sort_values(["ts", "event_id"])
    df["bar_ts"] = df["ts"] - df["ts"] % width_us
    df = df[df["bar_ts"] + width_us <= closed_before_us]
    g = df.groupby(["symbol", "bar_ts"], sort=True)["price"]
    return pd.DataFrame(
        {
            "open": g.first(),
            "high": g.max(),
            "low": g.min(),
            "close": g.last(),
            "volume": g.size(),
        }
    )


def check_stream_output(spark, out_dir: str, info: dict, width_us: int) -> int:
    """Emitted bars == batch oracle on every closed window; no window past
    the final watermark is emitted.  Returns the number of bars checked."""
    from pyspark.sql import functions as F

    got = (
        spark.read.parquet(out_dir)
        .select(
            "symbol",
            F.unix_micros("bar_ts").alias("bar_ts"),
            "open", "high", "low", "close",
            F.col("volume").cast("long").alias("volume"),
        )
        .toPandas()
        .set_index(["symbol", "bar_ts"])
        .sort_index()
    )
    wm = info["final_watermark_us"]
    if len(got) and int(got.index.get_level_values("bar_ts").max()) + width_us > wm:
        raise Mismatch("stream emitted a window past the final watermark")
    cutoff = wm - width_us
    want = expected_bars(info["clean"], width_us, cutoff)
    got = got[got.index.get_level_values("bar_ts") + width_us <= cutoff]
    if len(got) != len(want) or not got.index.equals(want.index):
        raise Mismatch(f"stream bars: {len(got)} windows != oracle {len(want)}")
    for c in ("open", "high", "low", "close", "volume"):
        if not (got[c].to_numpy() == want[c].to_numpy()).all():
            raise Mismatch(f"stream bars: column {c} differs from oracle")
    return len(got)
