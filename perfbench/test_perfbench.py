"""Tests of the benchmark itself:  python3 -m pytest perfbench -q

The generator and parser tests need no Spark.  The smoke tests start one
benchmark process per workload at a tiny scale (about a minute each).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import subprocess
import sys

import pytest

import gen
import probes
from harness import percentile_with_tail
from run import END_TO_END, PER_LAYER, ROOT


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_doc(landing_dir, name, doc):
    os.makedirs(landing_dir, exist_ok=True)
    with open(os.path.join(landing_dir, name), "w") as f:
        json.dump(doc, f)


GENERATORS = {
    "star": lambda d, s: gen.gen_star(d, s, 0.1),
    "corpus": lambda d, s: gen.gen_corpus(d, s, 0.2),
    "landing": lambda d, s: gen.gen_landing(d, s, 0.5, write_doc=_write_doc),
    "ticks": lambda d, s: gen.gen_ticks(d, s, 0.2),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generators_are_deterministic_per_seed(tmp_path, name):
    make = GENERATORS[name]
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_query_order_is_seeded_permutation():
    names = [f"q{i}" for i in range(11)]
    assert gen.query_order(3, names) == gen.query_order(3, names)
    assert sorted(gen.query_order(3, names)) == sorted(names)
    assert gen.query_order(3, names) != gen.query_order(4, names)


def test_expected_etl_counts_shared_legs_per_symbol():
    day = dt.date(2024, 3, 4)
    full = set(range(gen.EXPECTED_BARS))
    present = {
        ("A", day): full,
        ("B", day): full - {0, 1, 2},
        ("C", day): full - {5},
    }
    got = gen.expected_etl(present, [("A", "B"), ("B", "C")])
    # A-B share 75 bars, B-C share 74; B is a leg of both pairs
    assert got["rows"] == 2 * 75 + 2 * 74
    assert got["n_checks"] == 3
    assert (got["n_ok"], got["n_warn"], got["n_fail"]) == (1, 0, 2)
    assert got["max_missing"] == 4
    assert got["run_status"] == "FAIL"


def test_late_ticks_trail_the_late_event_watermark(tmp_path):
    """Every late tick is more than the watermark delay behind the newest
    tick of the micro-batches before the previous one, so the stream's
    late-event filter must drop it."""
    import pyarrow.parquet as pq

    info = gen.gen_ticks(str(tmp_path), 5, 0.2)
    assert info["late"] > 0 and info["duplicates"] > 0
    clean_ids = set(info["clean"]["event_id"])
    assert len(clean_ids) == len(info["clean"]["event_id"])
    assert info["ticks"] == len(clean_ids) + info["duplicates"] + info["late"]

    batch_max: list[int] = []
    late: list[tuple[int, int]] = []  # (micro-batch, ts)
    for f in range(info["files"]):
        t = pq.read_table(
            os.path.join(info["landing"], f"ticks_{f:03d}.parquet")
        ).to_pydict()
        b = f // info["files_per_trigger"]
        ts = [int(x.timestamp() * 1e6) for x in t["ts"]]
        if len(batch_max) <= b:
            batch_max.append(max(ts))
        batch_max[b] = max(batch_max[b], max(ts))
        late += [(b, x) for i, x in zip(t["event_id"], ts) if i not in clean_ids]
    assert len(late) == info["late"]
    delay_us = gen.WATERMARK_MIN * 60_000_000
    for b, ts in late:
        assert b >= 2
        assert ts < max(batch_max[: b - 1]) - delay_us


def test_metric_value_parses_sql_metric_strings():
    assert probes.metric_value("14 ms") == pytest.approx(0.014)
    assert probes.metric_value(
        "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 2 ms, 1.2 s)"
    ) == pytest.approx(1.5)
    assert probes.metric_value("29.2 KiB") == pytest.approx(29.2 * 1024)
    assert probes.metric_value("1,024") == 1024


def test_percentile_with_tail_keeps_ten_samples_beyond():
    assert percentile_with_tail(list(range(10))) is None
    pct, value = percentile_with_tail([float(i) for i in range(100)])
    assert pct == 90 and value == 89.0


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "0.1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["etl_daily", "research_queries"])
def test_smoke_emits_every_end_to_end_metric(workload):
    detail, result = _run(workload, 901, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(END_TO_END)
    for name, m in result["metrics"].items():
        assert m["value"] > 0, name
        assert m["unit"] == END_TO_END[name]
    assert detail["env"]["SPARK_GRAFT_CPUS"] == str(len(os.sched_getaffinity(0)))


@pytest.mark.parametrize("workload", ["etl_daily", "research_queries"])
def test_traced_smoke_nests_spans(workload):
    detail, result = _run(workload, 902, 1)
    assert result["correct"]
    assert set(result["metrics"]) == set(PER_LAYER)
    path = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-s902.json")
    with open(path) as f:
        spans = {s["span_id"]: s for s in json.load(f)["spans"]}
    kinds = {s["kind"] for s in spans.values()}
    assert {"workload", "pass", "op", "build", "action"} <= kinds
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
    ops = [s for s in spans.values() if s["kind"] == "op"]
    assert all("spark.jobs" in s["attrs"] for s in ops)


def test_fails_without_the_engine(tmp_path):
    """With only the benchmark's own files present it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(os.path.dirname(os.path.abspath(__file__)),
                    tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_daily",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
