"""Benchmark of the dedup engine's public API, one workload per command.

    python3 perfbench/run.py --workload batch_captions --seed 1 --seconds 20 --trace 0

Run from the repository root. The inputs and their oracle results come from
the seed (cached under .perfbench/cache); each Spark session runs in a fresh
process with a fresh JVM (perfbench/child.py). The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones, folded from the Spark event log of a traced session and
compared with an untraced cold session run first in the same command.
perfbench/README.md names every workload and metric."""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_captions", "stream_exact")
# resumes per untraced session, a fixed number so that the sample does not
# depend on the speed of the code; the stream restarts once per restart file
# inputs.py generates. One batch resume: a second adds about 4.5 s to every
# run, and a full comparison (two sets of ten runs per workload) must stay
# under an hour
BATCH_RESUMES = 1
DEADLINE_S = 175  # the whole command, set-up and checks included


def host_drift() -> dict:
    """Host load next to every set of runs: load averages plus the seconds a
    fixed single-thread sha256 chain takes."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    t0 = time.perf_counter()
    h = b"x" * 1024
    for _ in range(100_000):
        h = hashlib.sha256(h).digest() + b"y" * 992
    return {"loadavg": load, "cpu_probe_s": time.perf_counter() - t0}


def end_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the session's process group (the child, its
    JVM, the Python worker daemon) and wait until none of it runs."""
    def members() -> list[int]:
        out = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    # state and pgrp follow the parenthesised command name;
                    # a zombie has ended, only its reaping is left
                    state, _, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
                if int(pgrp) == proc.pid and state != "Z":
                    out.append(int(pid))
            except (OSError, IndexError, ValueError):
                continue  # exited while we looked
        return out

    give_up = time.time() + 30
    while members() and time.time() < give_up:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.05)
    proc.wait()


def run_session(work: str, name: str, spec: dict, deadline: float) -> dict:
    """One child session; returns its result dict (with "error" set on failure)."""
    d = os.path.join(work, name)
    tmp = os.path.join(d, "tmp")
    os.makedirs(tmp)
    spec = {**spec, "workdir": d, "tmp": tmp}
    with open(os.path.join(d, "spec.json"), "w") as f:
        json.dump(spec, f)
    # every file a session writes stays under d: temp files of Python and of
    # every JVM (the spark-submit launcher too), Spark's local dirs, and no
    # hsperfdata file, which HotSpot would put in /tmp whatever the tmpdir
    env = {**os.environ, "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(d, "spark-local"),
           "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
           "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable}
    log_path = os.path.join(d, "child.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), os.path.join(d, "spec.json")],
            cwd=d, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # the JVM and its Python workers share the child's process group
            end_group(proc)
    res_path = os.path.join(d, "result.json")
    if os.path.exists(res_path):
        with open(res_path) as f:
            res = json.load(f)
    else:
        res = {"ops": [], "error": f"session exited with code {proc.returncode}, no result"}
    res["dir"], res["resumes"] = d, spec["resumes"]
    if res.get("error"):
        with open(log_path) as f:
            sys.stderr.write(f"--- {name} log tail ---\n{f.read()[-3000:]}\n")
    return res


# ------------------------------------------------------------------ checks
def _read_assignments(path: str, with_batch: bool = False):
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive" if with_batch else None).to_table()
    cols = ["image_id", "cluster_id"] + (["batch_id"] if with_batch else [])
    return list(zip(*(t[c].to_pylist() for c in cols)))


def check_batch(res: dict, meta: dict) -> dict[int, str]:
    """Each operation's assignments must equal the oracle clusters exactly;
    dup-pair recall of the final assignments must be 1.0.
    -> {failed operation index: reason}"""
    import inputs

    bad = {}
    want = inputs.assignment_digest(meta["oracle"].items())
    for i, op in enumerate(res["ops"]):
        if op["digest"] != want or op["rows"] != meta["rows"]:
            bad[i] = f"{op['kind']} #{i}: assignments != oracle_clusters"
    if res["ops"]:
        got = dict(_read_assignments(os.path.join(res["dir"], "wh", "assignments")))
        pairs = meta["oracle_pairs"]
        hit = sum(1 for a, b in pairs if got.get(a) is not None and got.get(a) == got.get(b))
        if hit != len(pairs):
            bad.setdefault(len(res["ops"]) - 1, f"recall {hit}/{len(pairs)} < 1.0")
    return bad


def check_stream(res: dict, meta: dict, entry: str) -> tuple[dict[int, str], int]:
    """Per trigger (one landed file each): every row assigned exactly once in
    that trigger; late exact copies share their original's cluster; every
    stream cluster lies inside one oracle cluster (refine, never split).
    -> ({failed trigger: reason}, files landed)"""
    import inputs

    landed = res["ops"][-1]["files"] if res["ops"] else 0
    if not landed:
        return {}, 0
    rows = _read_assignments(os.path.join(res["dir"], "wh", "stream_assignments"), True)
    oracle = inputs.stream_oracle(entry, landed)
    cluster, batch_of, count = {}, {}, {}
    for img, cid, bid in rows:
        count[img] = count.get(img, 0) + 1
        cluster[img], batch_of[img] = cid, int(bid)
    bad: dict[int, str] = {}
    for f, ids in enumerate(meta["file_ids"][:landed]):
        for img in ids:
            if count.get(img) != 1 or batch_of.get(img) != f:
                bad.setdefault(f, f"trigger {f}: {img} assigned {count.get(img, 0)}x")
            elif img in meta["copies"] and cluster[img] != cluster.get(meta["copies"][img]):
                bad.setdefault(f, f"trigger {f}: late copy {img} not in its original's cluster")
    home: dict[str, str] = {}
    for img, cid in cluster.items():
        if home.setdefault(cid, oracle.get(img)) != oracle.get(img):
            bad.setdefault(batch_of[img], f"trigger {batch_of[img]}: stream cluster {cid} spans oracle clusters")
    extra = set(count) - {i for ids in meta["file_ids"][:landed] for i in ids}
    if extra:
        bad.setdefault(landed - 1, f"{len(extra)} assigned rows were never landed")
    return bad, landed


def check(workload: str, res: dict, meta: dict, entry: str) -> tuple[int, int, list[str]]:
    """-> (operations attempted, operations failed, reasons). An operation a
    session error left undone counts as failed."""
    import inputs

    resumes = res["resumes"]
    if workload == "batch_captions":
        bad = check_batch(res, meta)
        done = len(res["ops"])
        attempted = 1 + resumes
    else:
        # one trigger per landed file: the K drained, then one per restart
        bad, done = check_stream(res, meta, entry)
        attempted = inputs.STREAM_DRAIN_FILES + resumes
    reasons = list(bad.values())
    failed = len(bad) + attempted - done
    if res.get("error"):
        reasons.append(f"session error: {res['error']}")
        failed = max(failed, 1)
    return attempted, failed, reasons


# ----------------------------------------------------------------- metrics
def end_to_end(res: dict) -> dict:
    ops = res["ops"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (ops[0]["s"], "s"),
        "resume_s": (statistics.median(op["s"] for op in ops[1:]), "s"),
    }


def per_layer(base: dict, traced: dict) -> dict:
    """base: the untraced session (cold operation only) of the same command."""
    import fold

    spans = traced["spans"]
    ops = [s for s in spans if s["name"].startswith("op.")]
    windows = [(s["start"], s["end"]) for s in ops]
    events = fold.read_event_log(os.path.join(traced["dir"], "eventlog"))
    f = fold.fold(events, spans, windows)
    writes = fold.write_spans(spans, windows)
    out = {}
    for stage, layer in fold.LAYERS.items():
        t = f["layers"].get(stage, {})
        w = writes.get(stage, {})
        out[f"{layer}.run_s"] = (t.get("run_s", 0.0), "s")
        out[f"{layer}.jvm_cpu_s"] = (t.get("jvm_cpu_s", 0.0), "s")
        if stage in fold.UDF_STAGES:
            out[f"{layer}.py_init_s"] = (t.get("py_init_s", 0.0), "s")
            out[f"{layer}.py_run_s"] = (t.get("py_run_s", 0.0), "s")
            out[f"{layer}.py_out_mb"] = (t.get("py_out_mb", 0.0), "MB")
        out[f"{layer}.shuffle_mb"] = (t.get("shuffle_mb", 0.0), "MB")
        out[f"{layer}.jobs"] = (t.get("jobs", 0), "count")
        if stage != "skew_stats":  # a side job, not a committed stage
            out[f"{layer}.rows"] = (w.get("rows", 0), "count")
            out[f"{layer}.span_s"] = (w.get("span_s", 0.0), "s")
    is_batch = "op.run" in {s["name"] for s in ops}
    wall_traced = traced["ops"][0]["s"] if traced["ops"] else 0.0
    st = f["layers"].get("streaming", {})
    triggers = [t for op in traced["ops"] for t in op.get("triggers", [])]
    n_trig = len(triggers) or 1
    # net growth of the stream warehouse on disk, from empty, over the session
    wh_mb = traced["ops"][-1].get("wh_bytes", 0) / 1e6 if traced["ops"] else 0.0
    out.update({
        "components.assignments.driver_s": (fold.span_total(spans, "connected_components", windows), "s"),
        "io.commit_s": (sum(w["commit_s"] for w in writes.values()), "s"),
        "session.get_spark_s": (fold.span_total(spans, "session.get_spark"), "s"),
        # too spread to bound end to end (JVM heap growth follows GC timing)
        "session.peak_rss_mb": (base["peak_rss_mb"], "MB"),
        "deploy.ship_s": (fold.span_total(spans, "deploy.ensure_shipped"), "s"),
        "pipeline.overlap": (sum(w["span_s"] for w in writes.values()) / wall_traced
                             if is_batch and wall_traced else 0.0, "ratio"),
        "streaming.jobs_per_trigger": (st.get("jobs", 0) / n_trig, "count"),
        "streaming.run_s_per_trigger": (st.get("run_s", 0.0) / n_trig, "s"),
        "streaming.state_mb_per_trigger": (wh_mb / n_trig, "MB"),
        "streaming.trigger_s": (statistics.median(triggers) if triggers else 0.0, "s"),
        "streaming.trigger_max_s": (max(triggers, default=0.0), "s"),
        "trace.overhead_s": (wall_traced - base["ops"][0]["s"], "s"),
        "trace.unattributed_s": (f["unattributed"]["run_s"], "s"),
        "trace.run_s_total": (f["total_run_s"], "s"),
    })
    return out


# -------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # a floor only: each run does a fixed amount of work, which takes longer
    # than the run_seconds BENCHMARK.json sets
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "dedup", "__init__.py")):
        print(f"perfbench: no dedup package under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs

    work_root = os.path.join(ROOT, ".perfbench")
    drift_before = host_drift()
    entry, meta = inputs.prepare(os.path.join(work_root, "cache"), args.workload, args.seed)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    batch = args.workload.startswith("batch")
    spec = {"workload": args.workload, "entry": entry, "traced": False,
            "resumes": BATCH_RESUMES if batch else inputs.STREAM_RESTART_FILES}
    try:
        if args.trace:
            # trace.overhead_s compares with an untraced cold operation of the
            # same code and inputs, run just before; the traced batch layers
            # describe the cold run, the stream's every trigger
            sessions = [run_session(work, "untraced", {**spec, "resumes": 0}, deadline),
                        run_session(work, "traced", {**spec, "traced": True,
                                                     "resumes": 0 if batch else spec["resumes"]},
                                    deadline)]
        else:
            sessions = [run_session(work, "untraced", spec, deadline)]
        attempted, failed, failures = 0, 0, []
        for res in sessions:
            a, f, reasons = check(args.workload, res, meta, entry)
            attempted, failed, failures = attempted + a, failed + f, failures + reasons
        drift_after = host_drift()
        ok = failed == 0
        metrics = {}
        if ok and args.trace:
            metrics = per_layer(sessions[0], sessions[1])
        elif ok:
            metrics = end_to_end(sessions[0])
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "input_sha256": meta["input_sha256"], "rows": meta["rows"],
            "cores": sessions[0].get("cores"), "drift_before": drift_before,
            "drift_after": drift_after, "failures": failures,
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
        report(args, sessions, record, metrics, attempted, failed)
        with open(os.path.join(work_root, "runs.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


def report(args, sessions, record, metrics, attempted, failed) -> None:
    """Human-readable lines ahead of the JSON result."""
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} rows {record['rows']} "
          f"cores {record['cores']} input_sha256 {record['input_sha256']}")
    for k in ("drift_before", "drift_after"):
        d = record[k]
        print(f"{k}: loadavg {d['loadavg']} cpu_probe_s {d['cpu_probe_s']:.4f}")
    for res in sessions:
        ops = ", ".join(f"{op['kind']} {op['s']:.3f}s" for op in res["ops"])
        print(f"session {os.path.basename(res['dir'])}: setup {res.get('setup_s', 0):.3f}s; {ops}; "
              f"peak_rss_mb {res.get('peak_rss_mb', 0):.1f}")
        trig = [t for op in res["ops"] for t in op.get("triggers", [])]
        if trig:
            # too few triggers for any percentile with ten samples beyond it
            print(f"  trigger_s p50 {statistics.median(trig):.3f} max {max(trig):.3f} (n={len(trig)}); "
                  f"drain_s {res['ops'][0]['s']:.3f}")
    print(f"failed_frac {failed}/{attempted}")
    if "trace.run_s_total" in metrics:
        un, total = metrics["trace.unattributed_s"][0], metrics["trace.run_s_total"][0]
        print(f"unattributed executor time {un:.3f}s of {total:.3f}s ({100 * un / max(total, 1e-9):.2f}%)")
    for msg in record["failures"]:
        print(f"FAILED {msg}")
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.4f} {u}")


if __name__ == "__main__":
    sys.exit(main())
