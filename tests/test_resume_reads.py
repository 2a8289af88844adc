"""Resume-path contracts of the warehouse and the pipeline:

  - a committed stage reads back with the schema its manifest recorded:
    no Spark job, and the same schema (nullability included) and rows as
    an inferred `spark.read.parquet`;
  - a manifest without the `format` stamp (an earlier engine's) never
    resumes: its stage recomputes, with a notice, to the same rows;
  - the fidelity count of a resumed run comes from the keys manifest;
  - the CC route is recorded in the assignments manifest from the same
    helper connected_components gates on.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dedup.fs import read_json, write_json_atomic
from dedup.io import FORMAT, Warehouse


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "resume-read probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _strip(wh: Warehouse, stage: str, *path: str) -> None:
    """Delete manifest[path[0]]...[path[-1]]."""
    p = wh._manifest_path(stage)
    man = read_json(wh.fs, p)
    node = man
    for k in path[:-1]:
        node = node[k]
    del node[path[-1]]
    write_json_atomic(wh.fs, p, man)


def test_known_schema_read_launches_no_job(spark, tmp_path, capsys):
    wh = Warehouse(str(tmp_path / "wh"), "cfg")
    # non-null, nested and nullable fields: the parquet reader relaxes
    # nullability on both paths, so the schemas must still agree exactly
    df = spark.range(6).select(
        F.col("id"),
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        F.array(F.col("id"), F.col("id") * 2).alias("arr"),
        F.struct(F.col("id").alias("x"), F.lit(None).cast("double").alias("y")).alias("s"),
        F.when(F.col("id") % 2 == 0, F.lit("even")).alias("maybe"),
    )
    assert not df.schema["id"].nullable
    wh.write(df, "stage_a", deps=[])
    assert wh.manifest("stage_a")["schema"] == df.schema.jsonValue()

    got, jobs = _jobs_in_group(spark, "known-schema-read", lambda: wh.read(spark, "stage_a"))
    assert jobs == [], "a read with the manifest's schema must not infer it"
    inferred = spark.read.parquet(os.path.join(wh.root, "stage_a"))
    assert got.schema == inferred.schema
    assert [f.nullable for f in got.schema] == [f.nullable for f in inferred.schema]
    assert _rows(got) == _rows(inferred)

    # an earlier engine's manifest (no `format`) does not resume, loudly;
    # the recompute stamps the format back and reads the same rows
    want = _rows(inferred)
    _strip(wh, "stage_a", "format")
    assert not wh.is_complete("stage_a")
    assert "stage 'stage_a' manifest carries format None" in capsys.readouterr().err
    wh.write(df, "stage_a", deps=[])
    assert wh.is_complete("stage_a") and wh.manifest("stage_a")["format"] == FORMAT
    assert _rows(wh.read(spark, "stage_a")) == want


def _corrupt_synth(tmp_path, n: int = 60, seed: int = 5) -> str:
    import pyarrow.parquet as pq

    from dedup import synth

    rows = synth.generate(n, seed=seed)
    rows[3] = {**rows[3], "phash": rows[3]["phash"] ^ 0xFFFF}  # fails the pHash recompute
    src = str(tmp_path / "bad.parquet")
    pq.write_table(synth.to_arrow(rows), src)
    return src


def test_fidelity_count_on_resume(spark, tmp_path):
    """A keys table holding a failing row fails every resume: from the
    manifest's observed count (no job at all before the raise), and from the
    recomputed stage's count when the manifest carries no format."""
    from dedup.pipeline import Pipeline

    src = _corrupt_synth(tmp_path)
    wh = str(tmp_path / "wh")
    images = spark.read.parquet(src)
    with pytest.raises(ValueError, match="1 rows failed"):
        Pipeline(wh).run(spark, images)
    p = Pipeline(wh)
    assert p.wh.is_complete("keys")  # committed before the check raised
    assert p.wh.manifest("keys")["observed"]["bad_rows"] == 1

    def resume():
        with pytest.raises(ValueError, match="1 rows failed"):
            Pipeline(wh).run(spark, images)

    _, jobs = _jobs_in_group(spark, "fidelity-from-manifest", resume)
    assert jobs == []

    _strip(p.wh, "keys", "format")
    _, jobs = _jobs_in_group(spark, "fidelity-recompute", resume)
    assert jobs  # keys recomputed, and its new manifest records the count
    man = p.wh.manifest("keys")
    assert man["format"] == FORMAT and man["observed"]["bad_rows"] == 1


def test_earlier_format_warehouse_recomputes(spark, tmp_path):
    """A warehouse whose manifests carry no `format` (as an earlier engine
    wrote them) recomputes every stage to the same tables, and the CC route
    lands in the assignments manifest."""
    import pyarrow.parquet as pq

    from dedup import synth
    from dedup.components import cc_route
    from dedup.pipeline import Pipeline

    src = str(tmp_path / "img.parquet")
    pq.write_table(synth.to_arrow(synth.generate(80, seed=31)), src)
    wh = str(tmp_path / "wh")
    images = spark.read.parquet(src)
    p = Pipeline(wh)
    p.run(spark, images)

    def tables():
        return {
            "assignments": _rows(spark.read.parquet(os.path.join(wh, "assignments"))),
            "member_scores": _rows(spark.read.parquet(os.path.join(wh, "member_scores"))),
            "sizes": _rows(spark.read.parquet(os.path.join(wh, "metrics")).select("cluster_id", "size")),
        }

    before = tables()
    pm = p.wh.manifest("pairs")
    cc = p.wh.manifest("assignments")["cc"]
    assert cc == cc_route(pm["row_count"], pm["observed"]["edge_bytes_est"], p.cfg)
    assert cc["route"] == "driver"  # 80 rows: far under both driver bounds

    stages = p.wh.stage_order()
    committed = {s: p.wh.manifest(s)["committed_at"] for s in stages}
    for s in stages:
        _strip(p.wh, s, "format")
    Pipeline(wh).run(spark, images)
    assert tables() == before
    for s in stages:  # every stage recomputed, none resumed
        man = p.wh.manifest(s)
        assert man["format"] == FORMAT and man["committed_at"] > committed[s], s
    assert p.wh.manifest("assignments")["cc"] == cc
