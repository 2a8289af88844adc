"""Fold a Spark event log and a session's spans into per-layer metrics.

Attribution rule, one Spark job at a time:
  1. the job's `spark.scheduler.pool` names a pipeline tail stage (the
     pipeline's tail threads set it) or `skew_stats` -> that stage;
  2. a job of a streaming query (its properties carry the query id) ->
     the `streaming` layer;
  3. otherwise the innermost main-thread span around a public call
     (`write:<stage>` from Warehouse.write, `connected_components` for
     the assignments stage) whose interval contains the job's submission
     time -> that stage;
  4. anything else in the window is unattributed.
Only jobs submitted inside the given windows are folded. A stage's tasks
belong to the first job that lists the stage (later jobs skip it).

Layers are named `<module>.<stage>` after the module doing the stage's work.
Task metrics summed per layer: executor run time, executor CPU time,
shuffle bytes written, task output bytes, and the Python-worker SQL metrics
(start + initialise time, run time, bytes returned)."""

from __future__ import annotations

import json
import os

LAYERS = {
    "keys": "imaging.keys",
    "reps": "pipeline.reps",
    "edges_simhash": "lsh.edges_simhash",
    "signatures": "lsh.signatures",
    "scored_minhash": "lsh.scored_minhash",
    "skew_stats": "lsh.skew_stats",
    "edges_minhash": "pipeline.edges_minhash",
    "edges_substring": "verify.edges_substring",
    "pairs": "pipeline.pairs",
    "assignments": "components.assignments",
    "metrics": "pipeline.metrics",
    "member_scores": "pipeline.member_scores",
}
POOL_STAGES = {"reps", "edges_simhash", "edges_substring", "metrics", "member_scores", "skew_stats"}
# stages whose work runs in Python workers (pandas UDFs / mapInPandas)
UDF_STAGES = ("keys", "signatures", "edges_substring")
TASK_METRICS = ("run_s", "jvm_cpu_s", "shuffle_mb", "py_init_s", "py_run_s", "py_out_mb")


def stage_of(name: str) -> str:
    """Manifest stage name -> layer stage (band groups fold into one)."""
    return "scored_minhash" if name.startswith("scored_minhash_") else name


def read_event_log(root: str) -> list[dict]:
    """Every event under root: a plain log file or rolling eventlog_v2_* dirs."""
    paths = []
    for dirpath, _, files in os.walk(root):
        paths += [os.path.join(dirpath, f) for f in files if f.startswith(("events_", "local-"))]

    def order(p: str):
        base = os.path.basename(p)
        return (os.path.dirname(p), int(base.split("_")[1]) if base.startswith("events_") else 0)

    events = []
    for p in sorted(paths, key=order):
        with open(p) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _is_stream_job(props: dict) -> bool:
    return any(k.endswith("streaming.queryId") for k in props)


def _accum(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", []):
        if "Python workers" in a.get("Name", "") and a.get("Update") is not None:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Update"])
    return out


def fold(events: list[dict], spans: list[dict], windows: list[tuple[float, float]]) -> dict:
    """-> {"layers": {stage: {metric: value}}, "unattributed": {...}, "total_run_s": x}"""
    main = [s for s in spans if s["thread"] == "MainThread"
            and (s["name"].startswith("write:") or s["name"] == "connected_components")]

    def main_stage(t: float) -> str | None:
        best = None
        for s in main:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] > best["start"]):
                best = s
        if best is None:
            return None
        return "assignments" if best["name"] == "connected_components" else stage_of(best["stage"])

    def blank() -> dict:
        return {**{m: 0.0 for m in TASK_METRICS}, "jobs": 0}

    layers: dict[str, dict] = {}
    unattributed = blank()
    stage_acc: dict[int, dict] = {}  # Spark stage id -> accumulator of its job's layer
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if not any(lo <= t <= hi for lo, hi in windows):
                continue
            props = e.get("Properties") or {}
            pool = props.get("spark.scheduler.pool")
            if pool in POOL_STAGES:
                layer = pool
            elif _is_stream_job(props):
                layer = "streaming"
            else:
                layer = main_stage(t)
            acc = unattributed if layer is None else layers.setdefault(layer, blank())
            acc["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_acc.setdefault(sid, acc)
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_acc:
            acc = stage_acc[e["Stage ID"]]
            m = e.get("Task Metrics") or {}
            acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["shuffle_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            py = _accum(e.get("Task Info") or {})
            acc["py_init_s"] += (py.get("time to start Python workers", 0)
                                 + py.get("time to initialize Python workers", 0)) / 1e3
            acc["py_run_s"] += py.get("time to run Python workers", 0) / 1e3
            acc["py_out_mb"] += py.get("data returned from Python workers", 0) / 1e6
    total = unattributed["run_s"] + sum(a["run_s"] for a in layers.values())
    return {"layers": layers, "unattributed": unattributed, "total_run_s": total}


def write_spans(spans: list[dict], windows: list[tuple[float, float]]) -> dict[str, dict]:
    """Per stage: summed Warehouse.write span seconds, manifest rows, and the
    commit share (span minus the manifest's exec_ms)."""
    out: dict[str, dict] = {}
    for s in spans:
        if s["name"].startswith("write:") and any(lo <= s["start"] <= hi for lo, hi in windows):
            acc = out.setdefault(stage_of(s["stage"]), {"span_s": 0.0, "rows": 0, "commit_s": 0.0})
            dur = s["end"] - s["start"]
            acc["span_s"] += dur
            acc["rows"] += s["rows"]
            acc["commit_s"] += dur - s["exec_ms"] / 1e3
    return out


def span_total(spans: list[dict], name: str, windows: list[tuple[float, float]] | None = None) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name
               and (windows is None or any(lo <= s["start"] <= hi for lo, hi in windows)))
