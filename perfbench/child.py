"""One Spark session of a benchmark run, in its own process (fresh JVM).

    python3 perfbench/child.py <spec.json>

The spec names the workload, the cached input entry, a working directory,
the number of resumes and whether the session is traced. The cold operation
(a Pipeline.run or the stream's K-file drain) is followed by that fixed
number of resumes (a rerun after a crash past the edge stages, or a stream
restart on its checkpoint with one new file); 0 runs the cold operation
only. The result (timings, per-operation assignment digests, trigger
progress, the stream warehouse's size on disk and, when traced, the spans)
is written to `<workdir>/result.json`; run.py checks correctness and folds
the trace from it after this process has exited.

Untraced sessions install nothing: they call the public API exactly as a
user would. Traced sessions add the Spark event log and wrap a few public
calls (spans.Recorder)."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

# stages a crash after the edge stages committed must redo
RESUME_STAGES = ("pairs", "assignments", "metrics", "member_scores")


def assignments_digest(path: str) -> tuple[str, int]:
    """(digest, row count) of the assignments parquet dir."""
    import pyarrow.dataset as ds

    import inputs

    t = ds.dataset(path, format="parquet").to_table(columns=["image_id", "cluster_id"])
    rows = list(zip(t["image_id"].to_pylist(), t["cluster_id"].to_pylist()))
    return inputs.assignment_digest(rows), len(rows)


def peak_rss_mb(spark) -> float:
    """The driver JVM's high-water RSS (VmHWM), pid via py4j ProcessHandle."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tree_bytes(path: str) -> int:
    """Bytes of every file under path, as on disk now."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def run_batch(spark, spec: dict, out: dict, rec) -> None:
    from dedup.pipeline import Pipeline

    wh = os.path.join(spec["workdir"], "wh")
    src = os.path.join(spec["entry"], "input", "images.parquet")
    ops = out["ops"]

    def one(kind: str) -> None:
        images = spark.read.parquet(src)
        t0 = time.time()
        with rec.span(f"op.{kind}"):
            Pipeline(wh, band_groups="auto").run(spark, images)
        ops.append({"kind": kind, "s": time.time() - t0})
        ops[-1]["digest"], ops[-1]["rows"] = assignments_digest(os.path.join(wh, "assignments"))

    one("run")
    for _ in range(spec["resumes"]):
        for s in RESUME_STAGES:
            os.remove(os.path.join(wh, f"_manifest_{s}.json"))
        one("resume")


def run_stream(spark, spec: dict, out: dict, rec) -> None:
    from dedup.streaming import incremental_dedup_stream

    import inputs

    d = spec["workdir"]
    landing, wh, ck = (os.path.join(d, x) for x in ("landing", "wh", "checkpoint"))
    os.makedirs(landing)
    files = sorted(os.listdir(os.path.join(spec["entry"], "input")))
    landed = 0
    ops = out["ops"]

    def land(n: int) -> None:
        # distinct, increasing mtimes: the file source takes oldest first
        nonlocal landed
        for name in files[landed : landed + n]:
            dst = os.path.join(landing, name)
            shutil.copyfile(os.path.join(spec["entry"], "input", name), dst)
            os.utime(dst, (1_000_000 + landed, 1_000_000 + landed))
            landed += 1

    def one(kind: str) -> None:
        t0 = time.time()
        with rec.span(f"op.{kind}"):
            q = incremental_dedup_stream(spark, landing, wh, ck, max_files_per_trigger=1)
            q.awaitTermination()
        s = time.time() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in q.recentProgress
                if p["numInputRows"] > 0]
        ops.append({"kind": kind, "s": s, "files": landed, "triggers": trig,
                    "wh_bytes": tree_bytes(wh)})

    land(inputs.STREAM_DRAIN_FILES)
    one("drain")
    for _ in range(spec["resumes"]):
        land(1)
        one("restart")


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    import spans

    rec = spans.Recorder(enabled=spec["traced"])
    out: dict = {"ops": [], "error": None}
    cores = len(os.sched_getaffinity(0))  # nproc: the CPUs this process may use
    extra = {"spark.ui.showConsoleProgress": "false"}
    if spec["traced"]:
        os.makedirs(os.path.join(spec["workdir"], "eventlog"))
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(spec["workdir"], "eventlog"),
        })
        rec.install()

    from dedup import deploy
    from dedup.session import get_spark

    t0 = time.time()
    with rec.span("session.get_spark"):
        spark = get_spark(f"perfbench-{spec['workload']}", cores=cores, extra=extra)
    deploy.ensure_shipped(spark)
    out["setup_s"] = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        (run_batch if spec["workload"].startswith("batch") else run_stream)(spark, spec, out, rec)
    except Exception as e:  # reported as a failed operation by run.py
        import traceback

        traceback.print_exc()
        out["error"] = f"{type(e).__name__}: {e}"
    out["peak_rss_mb"] = peak_rss_mb(spark)
    out["cores"] = cores
    spark.stop()  # flushes the event log; run.py ends the JVM's process group
    out["spans"] = rec.spans
    with open(os.path.join(spec["workdir"], "result.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])
