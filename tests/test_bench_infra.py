"""bench.py and streaming-scratch infrastructure.

1. Bench history and basis: the previous ROUND's committed
   BENCH_r{N}.json, matched to its full twin in bench_rounds.jsonl, is
   the one basis every cross-round gate reads; probe runs never become
   it.
2. Plan-fingerprint normalizer: two executions of the same plan hash
   identically even where the plan printer truncates FileScan
   DataFilters at an id-width-dependent point.
3. Artifact schema and lane gates: env-normalized fields, warm <= cold
   lane walls, unclamped warm-min gating, and slim-line headroom.
4. Streaming scratch: per-process roots, one creation helper for every
   query, and the age backstop on the stale-scratch sweep; every engine
   stream starts through ``session.start_stream``, and every ``batch_id``
   write goes through ``bars_stream.batch_id_sink``.
5. Session sizing: the default driver heap fits the host.
"""

from __future__ import annotations

import ast
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_src() -> str:
    with open(os.path.join(REPO, "bench.py")) as f:
        return f.read()


# --- 1. bench history and basis ---------------------------------------------
def test_previous_round_bench_matches_jsonl_twin(tmp_path):
    """_previous_round_bench must anchor on the newest BENCH_r{N}.json
    and pull per-query fingerprints from its bench_rounds.jsonl twin
    (matched by headline value + per-query medians)."""
    import bench

    parsed = {"value": 1.23, "queries": {"q1": 0.5, "q2": 0.7}}
    (tmp_path / "BENCH_r3.json").write_text(
        json.dumps({"n": 3, "parsed": parsed})
    )
    (tmp_path / "BENCH_r2.json").write_text(
        json.dumps({"n": 2, "parsed": {"value": 9.9, "queries": {"q1": 9.9}}})
    )
    rows = [
        # an older run of the same round — NOT the twin
        {"seq": 1, "value": 1.5, "queries": {"q1": 0.9, "q2": 0.6},
         "plan_fp": {"q1": "old"}, "plan_fp_version": 4,
         "docscale_queries": {"d1": 9.0}},
        # the twin: same value + queries as the committed artifact
        {"seq": 2, "value": 1.23, "queries": {"q1": 0.5, "q2": 0.7},
         "plan_fp": {"q1": "aaa", "q2": "bbb"}, "plan_fp_version": 4,
         "docscale_queries": {"d1": 2.5}, "tickscale_queries": {"t1": 1.0}},
    ]
    (tmp_path / "bench_rounds.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )
    fp, doc, tick, ver, n, src = bench._previous_round_bench(
        root=str(tmp_path)
    )
    assert n == 3
    assert fp == {"q1": "aaa", "q2": "bbb"}
    assert doc == {"d1": 2.5}
    assert tick == {"t1": 1.0}
    assert ver == 4
    # the full twin payload is the single pinned basis
    assert src["queries"] == {"q1": 0.5, "q2": 0.7}


def test_previous_round_bench_no_twin_falls_back_to_parsed(tmp_path):
    import bench

    parsed = {"value": 2.0, "queries": {"q1": 1.0}, "plan_fp_version": 1}
    (tmp_path / "BENCH_r5.json").write_text(
        json.dumps({"n": 5, "parsed": parsed})
    )
    fp, doc, tick, ver, n, src = bench._previous_round_bench(
        root=str(tmp_path)
    )
    assert n == 5
    assert fp == {} and doc == {} and tick == {}
    assert ver == 1
    assert src["queries"] == {"q1": 1.0}


def test_bench_history_skips_probe_entries(tmp_path, monkeypatch):
    """A bench_rounds.jsonl entry tagged probe=true can never become a
    comparison basis."""
    import bench

    rows = [
        {"seq": 1, "value": 1.0, "queries": {"q1": 1.0}},
        {"seq": 2, "value": 9.0, "queries": {"q1": 9.0}, "probe": True},
    ]
    (tmp_path / "bench_rounds.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _p: str(tmp_path)
    )
    hist = bench._bench_history()
    assert [p["seq"] for _, p in hist] == [1]


def test_committed_history_probe_tag_and_basis():
    """The committed mid-round probe (seq 10) is tagged, and the basis
    the gates read is a committed round entry with fingerprints under
    the current formula."""
    import bench

    with open(os.path.join(REPO, "bench_rounds.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    by_seq = {r["seq"]: r for r in rows}
    assert by_seq[10].get("probe") is True
    assert not by_seq[11].get("probe")
    fp, _doc, _tick, ver, round_n, src = bench._previous_round_bench()
    assert round_n >= 11
    assert not src.get("probe")
    assert ver == bench.PLAN_FP_VERSION and fp


# --- 2. plan-fingerprint normalizer -----------------------------------------
def test_plan_fp_is_truncation_invariant():
    """The missing_buckets_audit 'flap' was not an AQE re-plan: the two
    variants are byte-identical except where the plan printer TRUNCATES
    the FileScan DataFilters list, and the raw expression-id width (#123
    vs #1234) shifts that cut point.  The normalizer excises the
    DataFilters span (its predicates appear untruncated and id-free in
    PushedFilters), so both hash identically."""
    import bench

    a = (
        "+- FileScan parquet [ts#123,event_type#124] Batched: true, "
        "DataFilters: [isnotnull(event_type#123), isnotnull(timestamp_"
        "micros((unix_micros(cast(ts#123 as timestamp)) - (u..., "
        "Format: Parquet, PushedFilters: [IsNotNull(event_type)], "
        "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"
    )
    b = (
        "+- FileScan parquet [ts#1234,event_type#1235] Batched: true, "
        "DataFilters: [isnotnull(event_type#1234), isnotnull(timestamp"
        "_micros((unix_micros(cast(ts#1234 as timestamp)) - ..., "
        "Format: Parquet, PushedFilters: [IsNotNull(event_type)], "
        "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"
    )
    out = bench._normalize_plan_str(a)
    assert out == bench._normalize_plan_str(b)
    # the excision must not eat past the DataFilters span
    assert "PushedFilters: [IsNotNull(event_type)]" in out
    assert "ReadSchema" in out


def test_plan_fp_does_not_collapse_user_col_names():
    """A literal user column named col_1/x_2 must survive the normalizer
    (a blanket ``_\\d+#`` rewrite would hash two different plans alike)
    while analyzer lambda variables and CSE slots in the SAME plan
    string still collapse."""
    import bench

    s = "Project [col_1#12, x_2#13, lambda x_46#99, _common_expr_3#14]"
    out = bench._normalize_plan_str(s)
    assert "col_1#x" in out and "x_2#x" in out  # user columns preserved
    assert "lambda x_n#x" in out and "_common_expr_n#x" in out
    renamed = s.replace("col_1#", "col_2#").replace("x_2#", "x_3#")
    assert bench._normalize_plan_str(renamed) != out


# --- 3. artifact schema and lane gates --------------------------------------
def test_envnorm_fields_in_artifact_schema():
    """The committed artifact carries its own environmental correction:
    bench.py emits value_envnorm + *_envnorm flag lists (a source pin:
    a full bench run is too slow for a unit test)."""
    src = _bench_src()
    for key in (
        '"value_envnorm"',
        '"regressions_envnorm_over_20pct"',
        '"docscale_regressions_envnorm"',
        '"tickscale_regressions_envnorm"',
        '"sf1_regressions_envnorm"',
        '"sf1grown_regressions_envnorm"',
    ):
        assert key in src, key
    # and the headline envnorm twins are in the slim printed line
    assert src.count('"value_envnorm"') >= 2


def test_lane_warm_wall_never_exceeds_cold():
    """_lane_warm_wall returns min over observed runs INCLUDING the cold
    wall, so warm <= cold by construction; a third run triggers only
    when min(2 warm) > cold."""
    src = _bench_src()
    assert "_lane_warm_wall" in src
    assert "min(walls + ([cold_wall]" in src
    # spread dicts recorded for all four lanes
    for key in (
        '"docscale_warm_spread"',
        '"tickscale_warm_spread"',
        '"sf1_warm_spread"',
        '"sf1grown_warm_spread"',
    ):
        assert key in src, key


def test_lane_gates_compare_unclamped_warm_min():
    """The recorded lane wall keeps the warm<=cold clamp, but the 1.2x
    gates compare the warm-only minimum on both sides so a fluke-fast
    cold reading cannot mask a warm regression."""
    src = _bench_src()
    for cur in (
        '_lane_gate_warm(\n        docscale_warm_min, "docscale_queries"',
        '_lane_gate_warm(\n        tickscale_warm_min, "tickscale_queries"',
        '_lane_gate_warm(sf1_warm_min, "sf1_queries")',
        '_lane_gate_warm(\n        sf1g_warm_min, "sf1grown_queries"',
    ):
        assert cur in src, cur
    # prev side prefers the warm_min artifact key
    assert 'prev_src_key + "_warm_min"' in src
    # and the artifact records the unclamped minima for next round
    for key in (
        '"docscale_queries_warm_min"',
        '"tickscale_queries_warm_min"',
        '"sf1_queries_warm_min"',
        '"sf1grown_queries_warm_min"',
    ):
        assert key in src, key


def test_slim_fitter_reserves_headroom_for_dropped_list():
    """The fitter measures the line WITH the prospective slim_dropped
    payload, so the printed line can never regrow past the limit from
    the act of dropping."""
    src = _bench_src()
    assert "_slim_len" in src
    i = src.index("def _slim_len")
    body = src[i : src.index("for key in _SLIM_DROP_ORDER", i)]
    assert "slim_dropped" in body and "dropped" in body


# --- 4. streaming scratch ---------------------------------------------------
def test_streaming_scratch_is_per_process():
    """The scratch root is pid-suffixed so a concurrent check_oracle
    cannot rmtree a pytest run's partials mid-test."""
    from quant_market_data_pipeline_spark.queries import streaming_e2e

    assert streaming_e2e._SCRATCH.name == f"pid{os.getpid()}"
    assert streaming_e2e._SCRATCH.parent == streaming_e2e._SCRATCH_ROOT


def test_every_stream_query_creates_scratch_via_helper():
    """Every streaming e2e query creates its scratch through
    _query_scratch, which touches the pid root so its mtime reflects
    liveness and the age backstop cannot sweep a live run."""
    with open(
        os.path.join(
            REPO, "quant_market_data_pipeline_spark", "queries",
            "streaming_e2e.py",
        )
    ) as f:
        src = f.read()
    names = re.findall(r'@register\(\s*\n?\s*"([^"]+)"', src)
    assert names
    assert src.count("= _query_scratch(sf_dir") == len(names)


def test_every_engine_stream_starts_via_helper():
    """The only zero-argument ``.start()`` in the package, thread starts
    aside, is the one inside ``session.start_stream``: no engine stream
    starts with the batch shuffle-partition count (one state store per
    partition) instead of one per core."""
    pkg = os.path.join(REPO, "quant_market_data_pipeline_spark")
    sites = []
    for root, _, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "start"
                    and not node.args
                    and not node.keywords
                    and "Thread(" not in ast.unparse(node.func.value)
                ):
                    rel = os.path.relpath(path, REPO)
                    sites.append((rel, node.lineno, ast.unparse(node)))
    assert [(rel, call) for rel, _, call in sites] == [
        ("quant_market_data_pipeline_spark/session.py", "writer.start()")
    ], f"start streams with session.start_stream: {sites}"


def test_every_batch_id_write_goes_through_the_sink():
    """The only ``partitionBy(..., "batch_id")`` write in the package is
    the one inside ``bars_stream.batch_id_sink``: every foreachBatch
    stream keeps one replay-idempotence scope instead of its own copy."""
    pkg = os.path.join(REPO, "quant_market_data_pipeline_spark")
    sites = []
    for root, _, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            for top in tree.body:
                for node in ast.walk(top):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "partitionBy"
                        and any(
                            isinstance(a, ast.Constant)
                            and a.value == "batch_id"
                            for a in node.args
                        )
                    ):
                        rel = os.path.relpath(path, REPO)
                        sites.append((rel, getattr(top, "name", None)))
    assert sites == [
        ("quant_market_data_pipeline_spark/streaming/bars_stream.py",
         "batch_id_sink")
    ], f"write batch_id partials through batch_id_sink: {sites}"


def test_scratch_sweep_age_backstop(tmp_path, monkeypatch):
    """A pid dir older than the age threshold is swept even when its
    (recycled) pid is alive."""
    from quant_market_data_pipeline_spark.queries import streaming_e2e

    root = tmp_path / ".stream_e2e"
    root.mkdir()
    bad_name = root / f"pid{os.getpid()}x"  # invalid int -> skipped
    bad_name.mkdir()
    os.utime(bad_name, (0, 0))  # ancient AND unparseable: must survive
    alive_recycled = root / "pid1"  # pid 1 is always alive
    alive_recycled.mkdir()
    os.utime(alive_recycled, (0, 0))  # epoch mtime: ancient
    fresh_alive = root / f"pid{os.getpid() + 100000}"
    fresh_alive.mkdir()  # fresh mtime, dead pid -> swept by liveness
    monkeypatch.setattr(streaming_e2e, "_SCRATCH_ROOT", root)
    monkeypatch.setattr(streaming_e2e, "_SCRATCH", root / "pidself")
    streaming_e2e._sweep_stale_scratch()
    assert bad_name.exists(), "unparseable dir name swept"
    assert not alive_recycled.exists(), "ancient recycled-pid dir kept"
    assert not fresh_alive.exists(), "dead-pid dir kept"


# --- 5. session sizing ------------------------------------------------------
def test_default_driver_mem_fits_the_host():
    """Unset ``SPARK_GRAFT_DRIVER_MEM`` gives at most 24g and at most half
    the physical memory, so two sessions at once fit the host."""
    from quant_market_data_pipeline_spark.session import default_driver_mem

    with open("/proc/meminfo") as f:
        phys_mib = int(f.readline().split()[1]) // 1024
    got = default_driver_mem()
    assert re.fullmatch(r"\d+m", got), got
    assert 0 < int(got[:-1]) <= min(24 * 1024, phys_mib // 2 + 1)
