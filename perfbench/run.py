"""Layer-attributed benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Inputs are generated from the seed under
``.perfbench_work/`` in the checkout; nothing is read or written elsewhere.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics untraced,
the per-layer metrics traced).  The line before it carries the
workload's own named metrics and the run's settings; a traced run also
writes its spans to ``.perfbench_work/traces/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "quant_market_data_pipeline_spark"
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.registry_load_s": "s",
    "session.warmup_s": "s",
    "session.cached_blocks_before_op": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plans.etl_jobs": "count",
    "plans.etl_sql_executions": "count",
    "sources.bronze_records_read": "count",
    "sources.bronze_rescan_ratio": "ratio",
    "sources.scan_bytes": "bytes",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "sink.files_per_leaf": "ratio",
    "sink.commit_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.slot_use": "ratio",
    "llm.python_udf_s": "s",
    "llm.candidate_pairs": "count",
    "llm.candidate_yield": "ratio",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "trace.items_per_s": "1/s",
    "trace.bookkeeping_s": "s",
    "trace.self_pass_s": "s",
    "trace.self_op_s": "s",
    "trace.self_build_s": "s",
    "trace.self_action_s": "s",
}

REGISTRY_IMPORT = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    f"from {PACKAGE}.queries import load_all; load_all()"
)


def hygiene_env(work: str) -> dict[str, str]:
    """Pinned engine settings, recorded in the output."""
    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gib = int(f.readline().split()[1]) / 2**20
    # a quarter of the box, at most 4 GiB: the inputs are small and the
    # machine is shared
    mem_gib = max(1, min(4, int(total_gib // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    # C1 only: with the default tiered JIT the C2 compiler was still busy
    # for 10-20 s of CPU per 8 s research pass after the warm-up, on 4
    # cores, and how much it compiled moved the passes' walls and CPU
    # from run to run (README.md, "Run hygiene").
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 "
        f"-Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={tmp}",
    }


def start_session(work: str):
    from quant_market_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:  # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def setup(workload, work: str):
    """Cold start, then SETUP_REPS timed restarts of the engine session:
    session start, registry load in a fresh interpreter, warm-up."""
    t0 = time.perf_counter()
    spark = start_session(work)
    workload.warmup(spark)
    cold_s = time.perf_counter() - t0
    reps = []
    for _ in range(SETUP_REPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        subprocess.run(
            [sys.executable, "-c", REGISTRY_IMPORT, ROOT], check=True, cwd=work
        )
        t2 = time.perf_counter()
        workload.warmup(spark)
        t3 = time.perf_counter()
        reps.append({"start": t1 - t0, "registry": t2 - t1, "warmup": t3 - t2,
                     "total": t3 - t0})
    return spark, cold_s, reps


def main(argv: list[str] | None = None) -> int:
    from statistics import median

    started = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (tests use a small one)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = hygiene_env(work)
    os.environ.update(env)

    import probes
    from harness import Harness, best, items_per_s, percentile_with_tail
    from spans import Tracer

    workload = WORKLOADS[args.workload](work, args.seed, args.scale)
    t0 = time.perf_counter()
    workload.generate()
    generate_s = time.perf_counter() - t0

    spark, cold_s, reps = setup(workload, work)
    tree = probes.JvmTree(probes.jvm_pid(spark))
    tree.start()
    try:
        tracer = Tracer(enabled=bool(args.trace))
        h = Harness(spark, tracer, tree, int(env["SPARK_GRAFT_CPUS"]))
        with tracer.span(workload.name, "workload"):
            with tracer.span("warm", "pass"):
                workload.warm(h)
            warm_ops = len(h.ops)
            h.timed = True
            passes, pass_spans = [], set()
            jvm_counts = [probes.jvm_counters(spark)]
            steal0 = probes.steal_s()
            t_start = time.perf_counter()
            while (len(passes) < workload.min_passes
                   or time.perf_counter() - t_start < args.seconds):
                n0 = len(h.ops)
                with tracer.span(f"pass{len(passes)}", "pass") as s_pass:
                    workload.run_pass(h)
                passes.append(h.ops[n0:])
                jvm_counts.append(probes.jvm_counters(spark))
                pass_spans.add(s_pass.span_id)
            window_s = time.perf_counter() - t_start
            steal_s = probes.steal_s() - steal0
        try:
            workload.check_after(h)
            after_ok = True
        except Exception:  # counted as one failed operation
            import traceback

            traceback.print_exc()
            after_ok = False
    finally:
        tree.stop()

    timed = [o for o in h.ops if o.timed]
    good = [o for o in timed if o.ok]
    failed = sum(not o.ok for o in h.ops) + (not after_ok)
    attempted = len(h.ops) + 1
    ok_passes = [p for p in passes if all(o.ok for o in p)] or passes

    setup_s = median(r["total"] for r in reps)
    walls = [o.wall for o in good]
    e2e = {
        "setup_s": setup_s,
        "items_per_s": items_per_s(good),
    }
    detail = {
        "workload": workload.name,
        "item": workload.item,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "env": env,
        "jvm_options": spark_conf(work)["spark.driver.extraJavaOptions"],
        "inputs": {k: v for k, v in workload.info.items()
                   if k in ("rows", "docs", "bars", "pairs", "tick_files")},
        "generate_s": generate_s,
        "cold_start_s": cold_s,
        "setup_reps": reps,
        "window_s": window_s,
        # JIT compile and GC time in the JVM during each timed pass, and
        # the time the host took the machine's CPUs away in the window
        "window_steal_s": steal_s,
        "pass_jit_s": [b[0] - a[0] for a, b in zip(jvm_counts, jvm_counts[1:])],
        "pass_gc_s": [b[1] - a[1] for a, b in zip(jvm_counts, jvm_counts[1:])],
        "passes": len(passes),
        "samples": len(walls),
        "warm_ops": warm_ops,
        "op_walls": [[o.name, o.wall] for o in h.ops],
        "failed_ops": failed,
        "attempted_ops": attempted,
        "cpu_s": sum(o.cpu_s for o in timed),
        "cpu_s_per_pass": sum(best(timed, "cpu_s").values()),
        "peak_rss_mb": tree.peak_rss_bytes / 2**20,
        "op_p50_s": median(walls) if walls else 0.0,
        **e2e,
        **workload.details(good, ok_passes),
    }
    tail = percentile_with_tail(walls)
    if tail and tail[0] >= 50:
        detail[f"op_p{tail[0]}_s"] = tail[1]

    if args.trace:
        metrics = per_layer(h, reps, good, ok_passes, workload, pass_spans)
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(
            os.path.join(traces, f"{workload.name}-s{args.seed}.json"),
            {"detail": detail, "per_layer": metrics,
             "ops": [vars(o) for o in h.ops]},
        )
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    detail["run_s"] = time.perf_counter() - started

    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


def per_layer(h, reps, good, passes, workload, pass_spans) -> dict:
    from harness import items_per_s, med

    def m(key, ops=good):
        return med(o.layers.get(key, 0.0) for o in ops)

    etl = [o for o in good if o.kind.startswith("etl_")]
    streams = [o for o in good if o.kind == "stream"]
    batches = [b for o in streams for b in o.extra.get("batches", [])]
    # candidate pairs are row counts, the same in the warm-up as in a timed
    # pass, so the warm-only corpus queries count too
    llm = [o for o in h.ops
           if o.ok and o.kind == "corpus" and o.layers.get("llm.join_rows", 0) > 0]
    written = sum(o.layers.get("sink.files_written", 0) for o in good)
    leaves = sum(o.layers.get("sink.dynamic_parts", 0) for o in good)
    bronze = [sum(o.layers.get("sources.input_records", 0) for o in p
                  if o.kind.startswith("etl_")) for p in passes]
    docs = sum(workload.info.get("docs", {}).values())
    # self time of the timed passes only, per timed operation
    selfs = h.tracer.self_times(pass_spans)
    n_ops = max(1, sum(o.timed for o in h.ops))
    out = {
        "session.start_s": med(r["start"] for r in reps),
        "session.registry_load_s": med(r["registry"] for r in reps),
        "session.warmup_s": med(r["warmup"] for r in reps),
        "plans.etl_jobs": m("spark.jobs", etl),
        "plans.etl_sql_executions": m("plans.sql_executions", etl),
        "sources.bronze_records_read": med(bronze),
        "sources.bronze_rescan_ratio": med(bronze) / docs if docs else 0.0,
        "sink.files_per_leaf": written / leaves if leaves else 0.0,
        "llm.python_udf_s": med(
            sum(o.layers.get("llm.python_udf_s", 0.0) for o in p) for p in passes
        ),
        "llm.candidate_pairs": m("llm.join_rows", llm),
        "llm.candidate_yield": med(
            o.extra.get("rows", 0) / o.layers["llm.join_rows"] for o in llm
        ),
        "streaming.batches": med(len(o.extra.get("batches", [])) for o in streams),
        "trace.items_per_s": items_per_s(good),
        "trace.bookkeeping_s": med(h.bookkeeping_s),
        **{f"trace.self_{k}_s": selfs.get(k, 0.0) / n_ops
           for k in ("pass", "op", "build", "action")},
    }
    for k in ("add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
              "query_planning_ms", "state_rows", "state_memory_bytes",
              "state_commit_ms"):
        out[f"streaming.{k}"] = med(b[k] for b in batches)
    out["streaming.rows_dropped_by_watermark"] = med(
        sum(b["rows_dropped_by_watermark"] for b in o.extra.get("batches", []))
        for o in streams
    )
    for k in PER_LAYER:
        if k not in out:
            out[k] = m(k)
    return out


if __name__ == "__main__":
    sys.exit(main())
