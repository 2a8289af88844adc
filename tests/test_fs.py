"""fs shim: the commit layer must work on any Hadoop-resolvable URI, not
just driver-local POSIX paths (the only place 100 TB lives is hdfs://-s3a://).
HadoopFS is exercised here against file:// URIs — the same FileSystem API
surface an hdfs:// root goes through, served by the local implementation."""

from __future__ import annotations

import os

import pytest

from dedup.fs import HadoopFS, LocalFS, get_fs


def test_get_fs_scheme_sniffing(spark):
    assert isinstance(get_fs("/tmp/x"), LocalFS)
    assert isinstance(get_fs("file:///tmp/x"), HadoopFS)


@pytest.mark.parametrize("impl", ["local", "hadoop"])
def test_fs_primitives_roundtrip(spark, tmp_path, impl):
    root = str(tmp_path / impl)
    fs = LocalFS() if impl == "local" else HadoopFS(f"file://{root}")
    prefix = "" if impl == "local" else "file://"
    d = f"{prefix}{root}/sub"
    fs.mkdirs(d)
    assert fs.exists(d)

    p = f"{d}/m.json"
    assert not fs.exists(p)
    fs.write_text_atomic(p, '{"a": 1}')
    assert fs.exists(p) and fs.read_text(p) == '{"a": 1}'
    fs.write_text_atomic(p, '{"a": 2}')  # overwrite through the same commit
    assert fs.read_text(p) == '{"a": 2}'
    assert not fs.exists(p + ".tmp")  # tmp renamed away, never left behind

    fs.append_text(f"{d}/l.jsonl", "x\n")
    fs.append_text(f"{d}/l.jsonl", "y\n")
    assert fs.read_text(f"{d}/l.jsonl") == "x\ny\n"

    assert fs.list_files(d) == ["l.jsonl", "m.json"]
    assert fs.list_files(f"{d}/nope") == []

    fs.delete(p)
    assert not fs.exists(p)
    fs.delete(d, recursive=True)
    assert not fs.exists(d)


def test_warehouse_on_hadoop_uri_commits_and_resumes(spark, synth_parquet, tmp_path):
    """The full resume contract through the HadoopFS path: commit stages to a
    file:// warehouse root, kill (invalidate), rerun — identical assignments,
    earlier stages reused, manifests/lineage readable through the shim."""
    from dedup.io import Warehouse
    from dedup.pipeline import Pipeline

    root = f"file://{tmp_path}/wh"
    images = spark.read.parquet(synth_parquet)
    p = Pipeline(root, band_groups="auto")
    assert isinstance(p.wh.fs, HadoopFS)
    res = {r["image_id"]: r["cluster_id"] for r in p.run(spark, images).collect()}
    assert len(res) == 500
    man = p.wh.manifest("signatures")
    assert man and man["row_count"] > 0 and man["partition_count"] >= 1

    ts = p.wh.manifest("signatures")["committed_at"]
    p2 = Pipeline(root, band_groups="auto")
    p2.wh.invalidate_after("edges_simhash")  # order derived from lineage
    assert not p2.wh.is_complete("assignments")
    assert p2.wh.is_complete("signatures")
    res2 = {r["image_id"]: r["cluster_id"] for r in p2.run(spark, images).collect()}
    assert res2 == res
    assert p2.wh.manifest("signatures")["committed_at"] == ts  # reused, not rebuilt

    lin = Warehouse(root, "x").lineage()
    assert {l["stage"] for l in lin} >= {"keys", "reps", "signatures", "assignments"}


def test_stage_order_knows_auto_band_groups(spark, synth_parquet, tmp_path):
    """invalidate_after must see the auto-resolved band-group stage names
    (r03 advice: STAGES hardcodes the 4-group names)."""
    from dedup.pipeline import Pipeline

    wh = str(tmp_path / "wh")
    images = spark.read.parquet(synth_parquet)
    p = Pipeline(wh, band_groups="auto")
    res = {r["image_id"]: r["cluster_id"] for r in p.run(spark, images).collect()}
    order = p.wh.stage_order()
    assert "scored_minhash_b00_31" in order  # the auto-resolved single group
    assert order.index("signatures") < order.index("scored_minhash_b00_31") < order.index("pairs")
    p.wh.invalidate_after("scored_minhash_b00_31")
    assert not p.wh.is_complete("scored_minhash_b00_31")
    assert not p.wh.is_complete("pairs")  # everything after dropped too
    assert p.wh.is_complete("signatures")
    res2 = {r["image_id"]: r["cluster_id"] for r in p.run(spark, images).collect()}
    assert res2 == res


def test_stream_state_on_hadoop_uri(spark, tmp_path):
    """Streaming state commit/lookup through the HadoopFS shim (file:// root):
    later arrivals of known captions join existing clusters, and the bucket
    manifest lives behind the shim."""
    import pyarrow.parquet as pq

    from dedup import synth
    from dedup.streaming import StreamState, _assign_batch

    wh = f"file://{tmp_path}/wh"
    rows = synth.generate(60, seed=53)
    batch = spark.createDataFrame(synth.to_arrow(rows).to_pandas())
    _assign_batch(batch, 0, wh)
    state = StreamState(os.path.join(wh, "stream_state"))
    assert isinstance(state.fs, HadoopFS)
    man = state.manifest()
    assert man and man["batch_id"] == 0 and man["buckets"]

    late = dict(rows[0])
    late["image_id"] = "zlate000001"
    _assign_batch(spark.createDataFrame(synth.to_arrow([late]).to_pandas()), 1, wh)
    asg = spark.read.parquet(os.path.join(wh, "stream_assignments"))
    got = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    assert got["zlate000001"] == got[rows[0]["image_id"]]


def test_invalidate_after_walks_recorded_deps(spark, tmp_path):
    """With deps recorded in the manifests, the invalidation cut is the real
    dependency DAG — an INDEPENDENT stage that merely committed later (the
    concurrent tail makes that order racy) must survive, while transitive
    dependents drop regardless of their commit time."""
    import time as _t

    from dedup.io import Warehouse

    wh = Warehouse(str(tmp_path / "wh"), "cfg")
    one = spark.range(1)
    # edges_simhash commits BEFORE signatures (the racy overlap order that
    # made the time-based cut drop signatures spuriously)
    for s, deps in (
        ("keys", []),
        ("edges_simhash", ["keys"]),
        ("signatures", ["keys"]),
        ("pairs", ["signatures", "edges_simhash"]),
    ):
        wh.write(one, s, deps=deps)
        _t.sleep(0.002)
    wh.invalidate_after("edges_simhash")
    assert not wh.is_complete("edges_simhash")
    assert not wh.is_complete("pairs")       # transitive dependent
    assert wh.is_complete("signatures")      # independent, later-committed
    assert wh.is_complete("keys")            # upstream untouched


def test_invalidation_sees_manifest_missing_from_lineage(spark, tmp_path):
    """A stage whose manifest committed but whose lineage append never ran
    (crash between write_json_atomic and _append_lineage) must still be
    enumerated — journal-only enumeration left such a stage marked complete
    over rebuilt inputs (r04 review finding)."""
    import json as _json
    import os as _os

    from dedup.io import Warehouse

    wh = Warehouse(str(tmp_path / "wh"), "cfg")
    one = spark.range(1)
    wh.write(one, "keys", deps=[])
    wh.write(one, "pairs", deps=["keys"])
    # simulate the crash: 'orphan' depends on keys, manifest on disk, but
    # its journal line is missing (copy pairs' manifest under a new name)
    man = dict(wh.manifest("pairs"))
    man["stage"] = "orphan"
    with open(_os.path.join(str(tmp_path / "wh"), "_manifest_orphan.json"), "w") as f:
        _json.dump(man, f)
    assert wh.is_complete("orphan")
    assert "orphan" in wh.stage_order()      # FS union sees it
    wh.invalidate_after("keys")              # deps walk must drop it too
    assert not wh.is_complete("orphan")
    assert not wh.is_complete("pairs")
    assert not wh.is_complete("keys")


def test_invalidate_after_cross_run_regroup(spark, tmp_path):
    """The invalidation cut follows the recorded deps, not journal first-seen
    order: when a later run commits a band-group name the journal first saw
    AFTER its own dependents (auto regrouping across runs), the cut still
    drops those dependents (review finding — the first-seen cut left them
    marked complete for stale reuse)."""
    from dedup.io import Warehouse

    wh = Warehouse(str(tmp_path / "wh"), "cfg")
    one = spark.range(1)

    # run 1: sigs -> scored_minhash_b00_07 -> pairs
    for s, deps in (("signatures", []), ("scored_minhash_b00_07", ["signatures"]),
                    ("pairs", ["scored_minhash_b00_07"])):
        wh.write(one, s, deps=deps)
    wh.invalidate_after("signatures")
    assert not wh.is_complete("pairs")

    # run 2 regroups: sigs -> scored_minhash_b00_31 (NEW name, first seen
    # in the journal after run 1's 'pairs') -> pairs
    for s, deps in (("signatures", []), ("scored_minhash_b00_31", ["signatures"]),
                    ("pairs", ["scored_minhash_b00_31"])):
        wh.write(one, s, deps=deps)

    wh.invalidate_after("scored_minhash_b00_31")
    assert not wh.is_complete("scored_minhash_b00_31")
    assert not wh.is_complete("pairs")          # dependent dropped
    assert wh.is_complete("signatures")         # upstream untouched
