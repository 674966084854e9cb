"""One closed-loop client: runs operations, times them, attributes them.

An operation (a query, an ETL call, a stream drain) runs as a ``build``
then an ``action``.  Untraced, the harness only times the two and checks
the result.  Traced, each of the two runs under its own Spark job group
(the span id); after the operation the harness waits for the status
store to settle and reads back the jobs, stages and SQL executions of
those groups, plus the Catalyst phases of the action's plan.
"""

from __future__ import annotations

import re
import sys
import time
import traceback
from dataclasses import dataclass, field
from statistics import median

import probes
from spans import Tracer

_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_JOIN_NODE = re.compile(r"Join|CartesianProduct")
_WRITE_NODE = re.compile(r"InsertIntoHadoopFsRelationCommand")


@dataclass
class Op:
    name: str
    kind: str
    timed: bool
    wall: float = 0.0
    build_s: float = 0.0
    action_s: float = 0.0
    cpu_s: float = 0.0
    items: int = 0
    ok: bool = False
    extra: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


class Harness:
    def __init__(self, spark, tracer: Tracer, tree: probes.JvmTree, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.tree = tree
        self.cores = cores
        self.api = probes.StatusApi(spark) if tracer.enabled else None
        self.ops: list[Op] = []
        self.timed = False
        self.bookkeeping_s: list[float] = []

    def run(self, name, kind, build, action, check=None, items=1,
            groups=lambda built: ()) -> None:
        """Run one operation.  An exception from the build, the action or
        the check marks it failed; the run goes on."""
        op = Op(name, kind, self.timed, items=items)
        self.ops.append(op)
        sc = self.spark.sparkContext
        if self.timed:  # a warm-up op's wall is not measured
            probes.drop_dead_blocks(self.spark)
        if self.tracer.enabled:
            op.layers["session.cached_blocks_before_op"] = probes.cached_blocks(
                self.spark
            )
        built = result = None
        cpu0 = self.tree.cpu_s()
        try:
            with self.tracer.span(name, "op") as s_op:
                with self.tracer.span("build", "build") as s_build:
                    if self.tracer.enabled:
                        sc.setJobGroup(s_build.span_id, name)
                    built = build()
                with self.tracer.span("action", "action") as s_action:
                    if self.tracer.enabled:
                        sc.setJobGroup(s_action.span_id, name)
                    result = action(built)
            op.cpu_s = self.tree.cpu_s() - cpu0
            op.wall, op.build_s, op.action_s = s_op.wall, s_build.wall, s_action.wall
            if check is not None:
                check(result, op)
            op.ok = True
        except Exception:  # a failed operation is counted, the run goes on
            print(f"perfbench: op {name} failed", file=sys.stderr)
            traceback.print_exc()
        finally:
            if self.tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if self.tracer.enabled and op.ok:
            t0 = time.perf_counter()
            ids = {s_build.span_id, s_action.span_id, *groups(built)}
            op.layers.update(self._attribute(op, s_build.span_id, ids, built))
            s_op.attrs = {"kind": kind, **op.layers}
            if op.timed:
                self.bookkeeping_s.append(time.perf_counter() - t0)

    def _attribute(self, op: Op, build_id: str, groups: set[str], built) -> dict:
        api = self.api
        api.settle()
        jobs = api.jobs(groups)
        job_ids = {j["jobId"] for j in jobs}
        stages = api.stages(s for j in jobs for s in j["stageIds"])
        sql = [
            e for e in api.new_sql()
            if job_ids & set(
                e.get("successJobIds", []) + e.get("failedJobIds", [])
                + e.get("runningJobIds", [])
            )
        ]
        run_s = sum(s["executorRunTime"] for s in stages) / 1e3
        longest = max(stages, key=lambda s: s["executorRunTime"], default=None)
        out = {
            "queries.build_s": op.build_s,
            "queries.action_s": op.action_s,
            "queries.build_jobs": sum(1 for j in jobs if j["jobGroup"] == build_id),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.run_s": run_s,
            "spark.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(
                s["shuffleWriteBytes"] for s in stages
            ),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
            "spark.task_skew": api.task_skew(longest) if longest else 1.0,
            "spark.slot_use": run_s / (op.wall * self.cores) if op.wall else 0.0,
            "sources.scan_bytes": sum(s["inputBytes"] for s in stages),
            "sources.input_records": sum(s["inputRecords"] for s in stages),
            "plans.sql_executions": len(sql),
        }
        out.update(_sql_layers(sql))
        if hasattr(built, "_jdf"):
            phases = probes.planning_phases(built)
            for k, v in phases.items():
                out[f"catalyst.{k}_ms"] = v
        return out


def _sql_layers(executions: list[dict]) -> dict:
    files = parts = nbytes = commit = py = joins = 0.0
    for e in executions:
        for node in e.get("nodes", []):
            name = node.get("nodeName", "")
            m = {x["name"]: probes.metric_value(x["value"]) for x in node.get("metrics", [])}
            if _WRITE_NODE.search(name):
                files += m.get("number of written files", 0)
                parts += m.get("number of dynamic part", 0)
                nbytes += m.get("written output", 0)
                commit += m.get("task commit time", 0) + m.get("job commit time", 0)
            elif _JOIN_NODE.search(name):
                joins += m.get("number of output rows", 0)
            elif _PYTHON_NODE.search(name):
                py += sum(v for k, v in m.items() if "time" in k.lower())
    return {
        "sink.files_written": files,
        "sink.dynamic_parts": parts,
        "sink.bytes_written": nbytes,
        "sink.commit_s": commit,
        "llm.python_udf_s": py,
        "llm.join_rows": joins,
    }


def percentile_with_tail(samples: list[float], tail: int = 10):
    """Highest whole percentile that has at least ``tail`` samples beyond
    it, as (percent, value); None when there are too few samples."""
    n = len(samples)
    if n <= tail:
        return None
    return int(100 * (n - tail) / n), sorted(samples)[n - tail - 1]


def best(ops: list[Op], attr: str) -> dict[str, float]:
    """Lowest ``attr`` of each operation over the passes it ran in.

    A busy spell of the shared host slows whatever runs during it; taking
    each operation at its best over the passes keeps a spell that covers
    part of one pass out of the figure (the best-of-N of ``timeit``).
    """
    out: dict[str, float] = {}
    for o in ops:
        v = getattr(o, attr)
        out[o.name] = min(out.get(o.name, v), v)
    return out


def items_per_s(ops: list[Op]) -> float:
    """Work items of one pass per second of operation wall, each operation
    at its best wall over the passes."""
    items = {o.name: o.items for o in ops}
    wall = sum(best(ops, "wall").values())
    return sum(items.values()) / wall if wall else 0.0


def med(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0
