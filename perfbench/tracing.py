"""Tracing for the traced benchmark run.

Two sources, both read from the benchmark's side of the program:

- spans the benchmark records around its own calls into the program's
  public functions (``Tracer``), kept in memory and written with the record;
- Spark's own task and SQL metrics, read from the uncompressed event log that
  only the traced run enables (``stage_layers``). Jobs are mapped to layers
  through their SQL execution: the execution whose plan holds ArrowEvalPython
  is the scan -> score -> exchange -> write execution; executions that write
  the lineage or metrics tables, or read the written data back, are the
  lineage commit.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

ITER_PROP = "perfbench.iteration"  # local property tagging run_stage's jobs


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metric_names(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for c in node.get("children", ()):
        _plan_metric_names(c, out)


def read_event_log(path: str) -> dict:
    """Parse an uncompressed Spark event log into executions, jobs, stages
    and per-stage task aggregates."""
    execs: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    acc_names: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                _plan_metric_names(e["sparkPlanInfo"], acc_names)
                execs[e["executionId"]] = {
                    "start": e["time"], "end": None, "plan": e["physicalPlanDescription"],
                    "driver": {},
                }
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_names(e["sparkPlanInfo"], acc_names)
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                execs[e["executionId"]]["end"] = e["time"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                drv = execs[e["executionId"]]["driver"]
                for acc_id, value in e["accumUpdates"]:
                    drv[acc_id] = drv.get(acc_id, 0.0) + _num(value)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "exec": int(props["spark.sql.execution.id"]) if "spark.sql.execution.id" in props else None,
                    "iteration": props.get(ITER_PROP),
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], _new_stage())
                _add_task(st, e)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                st["submitted"] = info.get("Submission Time")
                st["completed"] = info.get("Completion Time")
                for a in info.get("Accumulables", ()):
                    if not a["Name"].startswith("internal."):
                        st["acc"][a["Name"]] = st["acc"].get(a["Name"], 0.0) + _num(a["Value"])
    for ex in execs.values():
        ex["driver"] = {acc_names.get(k, str(k)): v for k, v in ex["driver"].items()}
    return {"execs": execs, "jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"tasks": 0, "failed": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
            "spill_bytes": 0.0, "output_bytes": 0.0,
            "shuffle_read": [], "acc": {}, "submitted": None, "completed": None}


def _add_task(st: dict, e: dict) -> None:
    st["tasks"] += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        st["failed"] += 1
    m = e.get("Task Metrics") or {}
    st["run_ms"] += _num(m.get("Executor Run Time"))
    st["cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
    st["gc_ms"] += _num(m.get("JVM GC Time"))
    st["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
    st["output_bytes"] += _num((m.get("Output Metrics") or {}).get("Bytes Written"))
    rd = m.get("Shuffle Read Metrics") or {}
    if rd:
        st["shuffle_read"].append(_num(rd.get("Remote Bytes Read")) + _num(rd.get("Local Bytes Read")))


def _classify(plan: str, out_dir: str) -> str:
    """Layer of one SQL execution inside run_stage, from its physical plan."""
    if "ArrowEvalPython" in plan:
        return "main"
    writes = "InsertIntoHadoopFsRelationCommand" in plan
    if not writes and os.path.join(out_dir, "lineage") in plan:
        return "lookup"
    if any(os.path.join(out_dir, d) in plan for d in ("data", "lineage", "metrics")):
        return "lineage"
    return "lookup"  # completed_buckets on an absent lineage: an empty local relation


def stage_layers(log: dict, iteration: str, wall_ms: float, out_dir: str) -> dict:
    """Per-layer figures of one traced run_stage call, from the jobs tagged
    with ``iteration``. Wall time is split along the blocking path: the
    scoring stage's duration is divided between scan, scoring (Arrow
    hand-off + Python kernel) and shuffle write in proportion to its task
    time; the write stage's duration between fetch wait and writing."""
    execs, stages = log["execs"], log["stages"]
    ex_ids = sorted({j["exec"] for j in log["jobs"].values()
                     if j["iteration"] == iteration and j["exec"] is not None})
    kinds = {i: _classify(execs[i]["plan"], out_dir) for i in ex_ids}
    mains = [i for i in ex_ids if kinds[i] == "main"]
    if len(mains) != 1:
        raise RuntimeError(f"iteration {iteration}: expected one scoring execution, saw {len(mains)}")
    main = mains[0]
    main_stages = [stages[s] for j in log["jobs"].values() if j["exec"] == main
                   for s in j["stages"] if s in stages and stages[s]["submitted"] is not None]
    score = [s for s in main_stages if "data sent to Python workers" in s["acc"]]
    write = [s for s in main_stages if "task commit time" in s["acc"]]
    if len(score) != 1 or len(write) != 1:
        raise RuntimeError(f"iteration {iteration}: {len(score)} scoring and {len(write)} write stages")
    sc, wr = score[0], write[0]
    run_stages = [stages[s] for j in log["jobs"].values() if j["iteration"] == iteration
                  for s in j["stages"] if s in stages]

    sc_dur = sc["completed"] - sc["submitted"]
    wr_dur = wr["completed"] - wr["submitted"]
    scan_ms = sc["acc"].get("scan time", 0.0)
    shuffle_write_ms = sc["acc"].get("shuffle write time", 0.0) / 1e6
    score_task_ms = max(sc["run_ms"] - scan_ms - shuffle_write_ms, 0.0)
    fetch_wait_ms = wr["acc"].get("fetch wait time", 0.0)
    sc_run, wr_run = max(sc["run_ms"], 1e-9), max(wr["run_ms"], 1e-9)
    lineage_ms = sum(execs[i]["end"] - execs[i]["start"] for i in ex_ids if kinds[i] == "lineage")
    lookup_ms = sum(execs[i]["end"] - execs[i]["start"] for i in ex_ids if kinds[i] == "lookup")
    wall = {
        "scan": sc_dur * scan_ms / sc_run,
        "score": sc_dur * score_task_ms / sc_run,
        "exchange": sc_dur * shuffle_write_ms / sc_run + wr_dur * min(fetch_wait_ms, wr_run) / wr_run,
        "write": wr_dur * max(wr_run - fetch_wait_ms, 0.0) / wr_run,
        "lineage": lineage_ms,
        "lookup": lookup_ms,
    }
    wall["other"] = max(wall_ms - sum(wall.values()), 0.0)
    reducers = sorted(x for x in wr["shuffle_read"] if x > 0)  # reducers that got rows
    sent = sc["acc"].get("data sent to Python workers", 0.0)
    returned = sc["acc"].get("data returned from Python workers", 0.0)
    return {
        "stage.python.bytes_sent": sent,
        "stage.python.bytes_returned": returned,
        "stage.python.return_ratio": returned / sent if sent else 0.0,
        "stage.python.batches": sc["acc"].get("number of input batches", 0.0),
        "stage.python.run_ms": sc["acc"].get("time to run Python workers", 0.0),
        "stage.score.task_cpu_ms": score_task_ms,
        "stage.scan.time_ms": scan_ms,
        "stage.scan.bytes": execs[main]["driver"].get("size of files read", 0.0),
        "stage.exchange.bytes": sc["acc"].get("shuffle bytes written", 0.0),
        "stage.exchange.write_ms": shuffle_write_ms,
        "stage.exchange.fetch_wait_ms": fetch_wait_ms,
        "stage.exchange.skew": reducers[-1] / statistics.median(reducers) if reducers and statistics.median(reducers) else 0.0,
        "stage.write.bytes": wr["output_bytes"],
        "stage.write.files": execs[main]["driver"].get("number of written files", 0.0),
        "stage.write.task_commit_ms": wr["acc"].get("task commit time", 0.0),
        "stage.write.wall_ms": wr_dur,
        "stage.lineage.wall_ms": lineage_ms,
        "stage.tasks.gc_ms": sum(s["gc_ms"] for s in run_stages),
        "stage.tasks.spill_bytes": sum(s["spill_bytes"] for s in run_stages),
        "stage.tasks.failed": sum(s["failed"] for s in run_stages),
        **{f"stage.share.{k}": v / wall_ms for k, v in wall.items()},
    }
