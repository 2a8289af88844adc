"""The pipeline's one abort path under injected failures, and the identity
of the jobs a run submits.

Each fault test patches a module-level function the pipeline calls (no hook
in product code) and asserts that run() raises the injected error; that
right after it no Spark job is active, no scheduler worker thread is alive
and no cache the run held is still persisted; and that a rerun without the
patch resumes to the oracle's clusters. Side jobs that must be in flight at
the failure are slowed by a one-task Python UDF that sleeps per row, so a
leak would keep a job active for minutes.

The crash test kills a child process with os._exit (no `finally` runs) at
one of a stage's commit points and reruns the pipeline in this process.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import replace

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dedup import lsh, pipeline, synth, verify
from dedup.config import DEFAULT
from dedup.io import Warehouse
from dedup.pipeline import Pipeline
from dedup.reference_impl import oracle_clusters, oracle_pairs


class Injected(RuntimeError):
    pass


@pytest.fixture(scope="module")
def clusters(synth_rows):
    return oracle_clusters(synth_rows, oracle_pairs(synth_rows))


def _slow(df, col: str, seconds: float, marker: str | None = None):
    """`df` with `col` passed through a one-task Python UDF that sleeps
    `seconds` per row, after touching `marker` (a file the driver can poll:
    the job is running)."""

    def nap(v):
        if marker:
            open(marker, "a").close()
        time.sleep(seconds)
        return v

    return df.coalesce(1).withColumn(col, F.udf(nap, df.schema[col].dataType)(col))


def _fail_write(stage_prefix: str, before=lambda: None):
    """A Warehouse.write that raises Injected for stages named
    `stage_prefix*` (after calling `before`) and writes the rest."""
    write = Warehouse.write

    def patched(self, df, stage, *a, **kw):
        if stage.startswith(stage_prefix):
            before()
            raise Injected(stage)
        return write(self, df, stage, *a, **kw)

    return patched


def _wait_for(path: str, timeout: float = 60) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path) and time.time() < deadline:
        time.sleep(0.05)


def _abort_then_resume(spark, synth_parquet, wh, clusters, monkeypatch, patches, cfg=DEFAULT):
    sc = spark.sparkContext
    images = spark.read.parquet(synth_parquet)
    # by id, not by count: the context holds persisted RDDs weakly, so
    # unreferenced caches of earlier tests may vanish during the run
    cached = set(sc._jsc.getPersistentRDDs().keys())
    threads = set(threading.enumerate())
    with monkeypatch.context() as m:
        for target, name, fn in patches:
            m.setattr(target, name, fn)
        t0 = time.time()
        with pytest.raises(Injected):
            Pipeline(wh, cfg).run(spark, images)
    # the status store is fed by the asynchronous listener bus: let it catch
    # up with events already posted, then nothing may still be running
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert [t.name for t in threading.enumerate() if t not in threads and t.is_alive()] == []
    assert set(sc._jsc.getPersistentRDDs().keys()) <= cached
    abort_s = time.time() - t0

    p = Pipeline(wh, cfg)
    res = {r["image_id"]: r["cluster_id"] for r in p.run(spark, images).collect()}
    assert res == clusters
    return p, abort_s


def test_keys_fails_with_signatures_in_flight(
    spark, synth_parquet, tmp_path, clusters, monkeypatch
):
    """The two head stages overlap: `signatures` is submitted before `keys`
    builds, so a `keys` failure meets a running signatures job, and the one
    abort path cancels and joins it."""
    marker = str(tmp_path / "signatures_running")
    caption_sigs = lsh.with_caption_sigs

    def slow_sigs(*a, **kw):
        return _slow(caption_sigs(*a, **kw), "rep_id", 600.0, marker)

    _, abort_s = _abort_then_resume(
        spark, synth_parquet, str(tmp_path / "wh"), clusters, monkeypatch,
        [(lsh, "with_caption_sigs", slow_sigs),
         (Warehouse, "write", _fail_write("keys", lambda: _wait_for(marker)))],
    )
    assert os.path.exists(marker)  # the signatures job really was running
    assert abort_s < 120


def test_reps_fails_during_band_pass(spark, synth_parquet, tmp_path, clusters, monkeypatch):
    """A side stage fails while the band groups run: the next inline stage
    raises it, and the other side stages are cancelled and joined."""
    band_pass = threading.Event()
    scored_band = lsh.minhash_scored_band

    def band(*a, **kw):
        band_pass.set()
        return scored_band(*a, **kw)

    def reps(*a, **kw):
        assert band_pass.wait(120)
        raise Injected("reps")

    p, _ = _abort_then_resume(
        spark, synth_parquet, str(tmp_path / "wh"), clusters, monkeypatch,
        [(lsh, "minhash_scored_band", band), (pipeline, "exact_member_edges", reps)],
    )
    # the rerun resumed the substring stage's decision record too: synth
    # captions are far below the suffix-array threshold
    assert p.wh.manifest("edges_substring")["sa_branch"] == "elided"


def test_edges_minhash_fails_with_side_stage_in_flight(
    spark, synth_parquet, tmp_path, clusters, monkeypatch
):
    """An inline stage on the critical chain fails while a side stage still
    runs: the abort cancels and joins it before run() raises."""
    member_edges = pipeline.exact_member_edges

    def slow_reps(*a, **kw):
        return _slow(member_edges(*a, **kw), "id_b", 2.0)

    _, abort_s = _abort_then_resume(
        spark, synth_parquet, str(tmp_path / "wh"), clusters, monkeypatch,
        [(pipeline, "exact_member_edges", slow_reps),
         (Warehouse, "write", _fail_write("edges_minhash"))],
    )
    assert abort_s < 120  # cancelled, not waited out (the slow reps job is minutes)


def test_band_group_write_fails_with_skew_job_in_flight(
    spark, synth_parquet, tmp_path, clusters, monkeypatch
):
    """A band group's write fails while its skew-stats side job runs: the
    skew job is cancelled like any stage, and the group's banded cache
    (held under hard_cap) is released."""
    marker = str(tmp_path / "skew_running")
    scored_band = lsh.minhash_scored_band

    def slow_skew(*a, **kw):
        pairs, skew, handle = scored_band(*a, **kw)
        return pairs, _slow(skew, "n_buckets", 600.0, marker), handle

    _abort_then_resume(
        spark, synth_parquet, str(tmp_path / "wh"), clusters, monkeypatch,
        [(lsh, "minhash_scored_band", slow_skew),
         (Warehouse, "write", _fail_write("scored_minhash_", lambda: _wait_for(marker)))],
        cfg=replace(DEFAULT, hard_cap=True),
    )
    assert os.path.exists(marker)  # the skew job really was running


def test_metrics_fails(spark, synth_parquet, tmp_path, clusters, monkeypatch):
    """The last side stages: metrics fails while member_scores runs; the
    final wait raises without waiting member_scores out."""

    def bad_metrics(*a, **kw):
        raise Injected("metrics")

    scores = pipeline.member_scores

    def slow_scores(*a, **kw):
        return _slow(scores(*a, **kw), "cluster_id", 1.0)

    _, abort_s = _abort_then_resume(
        spark, synth_parquet, str(tmp_path / "wh"), clusters, monkeypatch,
        [(pipeline, "cluster_metrics", bad_metrics), (pipeline, "member_scores", slow_scores)],
    )
    assert abort_s < 120  # the slow member_scores job is minutes


def test_run_jobs_carry_the_callers_job_group(spark, tmp_path):
    """Side stages inherit the caller's local properties: every job a run
    submits is in the caller's job group, so the caller's own
    cancelJobGroup reaches all of them. The input holds one caption past
    the suffix-array threshold, so the substring stage keeps that branch
    and records it."""
    rows = synth.generate(40, seed=5)
    rows[0]["caption"] = " ".join(f"word{i}" for i in range(400))  # > 2048 chars
    src = str(tmp_path / "images.parquet")
    pq.write_table(synth.to_arrow(rows), src)
    images = spark.read.parquet(src)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe(group: str) -> int:
        sc.setJobGroup(group, "job-id probe")
        sc.parallelize([1], 1).count()
        return max(tracker.getJobIdsForGroup(group))

    try:
        first = probe("before-run")
        sc.setJobGroup("caller", "pipeline run under the caller's group")
        p = Pipeline(str(tmp_path / "wh"))
        p.run(spark, images)
        last = probe("after-run")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ran = set(range(first + 1, last))
    assert len(ran) > 10
    assert set(tracker.getJobIdsForGroup("caller")) == ran
    assert p.wh.manifest("edges_substring")["sa_branch"] == "live"


def test_sa_branch_predicate():
    assert verify.sa_branch(None) == "live"  # unknown bound: keep the branch
    assert verify.sa_branch(2047) == "elided"
    assert verify.sa_branch(2048) == "live"
    assert verify.sa_branch(100, sa_min_container_len=64) == "live"


# A child process that runs the pipeline and dies by os._exit at one commit
# point of `stage`: after its parquet write but before its manifest, or
# after the manifest but before its lineage append.
_CRASH_CHILD = """
import os, sys
from dedup import io
from dedup.pipeline import Pipeline
from dedup.session import get_spark

point, stage, src, wh = sys.argv[1:]
write_manifest, append_lineage = io.write_json_atomic, io.Warehouse._append_lineage

def manifest_or_crash(fs, path, obj):
    if point == "before_manifest" and os.path.basename(path) == f"_manifest_{stage}.json":
        os._exit(17)
    write_manifest(fs, path, obj)

def lineage_or_crash(self, man):
    if point == "before_lineage" and man["stage"] == stage:
        os._exit(17)
    append_lineage(self, man)

io.write_json_atomic = manifest_or_crash
io.Warehouse._append_lineage = lineage_or_crash
spark = get_spark("crash", cores=2, shuffle_partitions=4)
Pipeline(wh).run(spark, spark.read.parquet(src))
"""


@pytest.mark.parametrize("point", ["before_manifest", "before_lineage"])
def test_crash_at_stage_commit_point_resumes(spark, tmp_path, point):
    """A process killed at one of the `pairs` stage's commit points — after
    its parquet write but before its manifest, or after the manifest but
    before the lineage append — resumes to the oracle's clusters. Every
    stage whose manifest committed before the crash keeps its committed_at
    (none is recomputed), and stage_order lists the crashed stage."""
    import subprocess
    import sys

    rows = synth.generate(80, seed=31)
    src = str(tmp_path / "images.parquet")
    pq.write_table(synth.to_arrow(rows), src)
    wh = str(tmp_path / "wh")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CRASH_CHILD, point, "pairs", src, wh],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 17, out.stderr[-3000:]
    # the crash landed where intended
    p = Pipeline(wh)
    committed = {s: m["committed_at"] for s in p.wh.stage_order() if (m := p.wh.manifest(s))}
    assert os.path.isdir(os.path.join(wh, "pairs"))
    assert ("pairs" in committed) == (point == "before_lineage")
    assert "pairs" not in {entry["stage"] for entry in p.wh.lineage()}
    assert "keys" in committed and "assignments" not in committed

    res = {r["image_id"]: r["cluster_id"] for r in p.run(spark, spark.read.parquet(src)).collect()}
    assert res == oracle_clusters(rows, oracle_pairs(rows))
    for s, ts in committed.items():
        assert p.wh.manifest(s)["committed_at"] == ts, s
    assert "pairs" in p.wh.stage_order()
