"""End-to-end pipeline gates (SURVEY.md §5 test plan):

  - dup-pair recall >= 0.99 vs the brute-force oracle (BASELINE.json) —
    measured as oracle pairs co-clustered in pipeline assignments;
  - cluster-assignment equality vs oracle union-find;
  - per-row fidelity: decoded-pixel equality (lossless fmts) + recomputed
    pHash equality + caption equality;
  - resume: kill after stage k -> rerun produces identical assignments;
  - determinism across parallelism (shuffle-partition counts).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup import imaging
from dedup.config import DEFAULT
from dedup.pipeline import STAGES, Pipeline
from dedup.reference_impl import oracle_clusters, oracle_pairs


@pytest.fixture(scope="module")
def oracle(synth_rows):
    pairs = oracle_pairs(synth_rows)
    return pairs, oracle_clusters(synth_rows, pairs)


@pytest.fixture(scope="module")
def assignments(spark, synth_parquet, tmp_path_factory):
    images = spark.read.parquet(synth_parquet)
    wh = str(tmp_path_factory.mktemp("wh"))
    asg = Pipeline(wh).run(spark, images)
    return {r["image_id"]: r["cluster_id"] for r in asg.collect()}, wh


def test_recall_gate(oracle, assignments):
    pairs, _ = oracle
    res, _ = assignments
    hit = sum(1 for a, b in pairs if res.get(a) == res.get(b))
    assert len(pairs) > 100
    assert hit / len(pairs) >= 0.99


def test_cluster_assignment_equality(oracle, assignments):
    _, clusters = oracle
    res, _ = assignments
    assert res == clusters


def test_singletons_self_rooted(assignments, synth_rows):
    res, _ = assignments
    ids = {r["image_id"] for r in synth_rows}
    assert set(res) == ids
    # noise -> singleton semantics (Clusters.md:51-55): every cluster id is a row id
    assert set(res.values()) <= ids


def test_per_row_fidelity(synth_rows):
    """Decoded-pixel exactness for lossless fmts + stored pHash == recomputed
    (BASELINE.json per-row invariant)."""
    for r in synth_rows[:50]:
        px = imaging.decode_image(r["bytes"], r["fmt"], r["w"], r["h"])
        assert px.shape == (r["h"], r["w"], 3)
        recomputed = imaging.phash_to_signed64(imaging.phash64(px))
        assert recomputed == r["phash"]
        # lossless: roundtrip is exact, PSNR infinite (>= 40dB lossy gate)
        assert imaging.psnr(px, px) == float("inf")


def test_resume_after_kill(spark, synth_parquet, assignments):
    """Delete manifests from `edges_simhash` onward (killed mid-run); rerun
    must resume from completed stages and reproduce identical assignments."""
    res, wh = assignments
    p = Pipeline(wh)
    p.wh.invalidate_after("edges_simhash")
    assert not p.wh.is_complete("assignments")
    assert p.wh.is_complete("signatures")  # earlier stages still valid
    images = spark.read.parquet(synth_parquet)
    asg2 = p.run(spark, images)
    res2 = {r["image_id"]: r["cluster_id"] for r in asg2.collect()}
    assert res2 == res


def test_resume_mid_band(spark, synth_parquet, assignments):
    """Kill 'during' the LSH pass: band groups 0-1 committed, 2+ not. The
    rerun must reuse groups 0-1 (manifest timestamps untouched) and finish
    from group 2 — the north rule's 'resumes mid-band'."""
    res, wh = assignments
    p = Pipeline(wh)
    before = {
        s: p.wh.manifest(s)["committed_at"]
        for s in ("scored_minhash_b00_07", "scored_minhash_b08_15")
    }
    p.wh.invalidate_after("scored_minhash_b16_23")
    assert p.wh.is_complete("scored_minhash_b08_15")
    assert not p.wh.is_complete("scored_minhash_b16_23")
    images = spark.read.parquet(synth_parquet)
    res2 = {r["image_id"]: r["cluster_id"] for r in p.run(spark, images).collect()}
    assert res2 == res
    for s, ts in before.items():
        assert p.wh.manifest(s)["committed_at"] == ts  # untouched, not recomputed
    assert p.wh.manifest("scored_minhash_b16_23")["band_lo"] == 16


def test_config_change_invalidates(spark, synth_parquet, tmp_path_factory, assignments):
    """A different config hash must not reuse stale stage output."""
    from dataclasses import replace

    res, wh = assignments
    cfg2 = replace(DEFAULT, hamming_threshold=5)
    p2 = Pipeline(wh, cfg2)
    assert not p2.wh.is_complete("signatures")


def test_determinism_across_parallelism(spark, synth_parquet, tmp_path_factory, assignments):
    """Same input, different shuffle-partition count -> identical assignments
    (min-id roots everywhere; SURVEY.md §4.2 'deterministic cluster ids')."""
    res, _ = assignments
    images = spark.read.parquet(synth_parquet).repartition(13)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        asg = Pipeline(str(tmp_path_factory.mktemp("wh2"))).run(spark, images)
        res2 = {r["image_id"]: r["cluster_id"] for r in asg.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert res2 == res


def test_lineage_written(assignments):
    _, wh = assignments
    from dedup.io import Warehouse

    lines = Warehouse(wh, "x").lineage()
    stages = {l["stage"] for l in lines}
    assert set(STAGES) <= stages
    for l in lines:
        assert l["row_count"] >= 0 and l["wall_ms"] >= 0 and l["config_hash"]


def test_pairs_table_shape(spark, assignments):
    _, wh = assignments
    pairs = spark.read.parquet(f"{wh}/pairs")
    assert pairs.columns == ["id_a", "id_b", "match_type", "score"]
    bad = pairs.where(~F.col("match_type").isin("exact", "minhash", "simhash", "substring"))
    assert bad.count() == 0
    assert pairs.where(F.col("id_a") >= F.col("id_b")).count() == 0
    assert pairs.where((F.col("score") < 0) | (F.col("score") > 1)).count() == 0


def test_skew_stats_in_manifest(assignments):
    _, wh = assignments
    from dedup.io import Warehouse

    man = Warehouse(wh, "x").manifest("scored_minhash_b00_07")
    assert man and "skew" in man and man["skew"]["max_bucket"] >= 1
    assert man["band_lo"] == 0 and man["band_hi"] == 7


def test_auto_band_groups_small_input(spark, synth_parquet, assignments, tmp_path_factory):
    """band_groups='auto' commits ONE band-group stage on a small input
    (fewer fixed stage commits — the r02 small-input scaling finding),
    resumes from its manifest, and produces identical assignments."""
    res, _ = assignments
    images = spark.read.parquet(synth_parquet)
    wh = str(tmp_path_factory.mktemp("wh_auto"))
    p = Pipeline(wh, band_groups="auto")
    res2 = {r["image_id"]: r["cluster_id"] for r in p.run(spark, images).collect()}
    assert res2 == res
    man = p.wh.manifest("scored_minhash_b00_31")
    assert man and man["band_lo"] == 0 and man["band_hi"] == 31  # one group
    assert p.wh.manifest("scored_minhash_b00_07") is None
    # mid-band resume contract still holds in auto mode: invalidate the
    # group stage and rerun — earlier stages reused, result identical
    before_sigs = p.wh.manifest("signatures")["committed_at"]
    p.wh.invalidate_after("scored_minhash_b00_31")
    assert p.wh.is_complete("signatures")
    res3 = {r["image_id"]: r["cluster_id"] for r in p.run(spark, images).collect()}
    assert res3 == res
    assert p.wh.manifest("signatures")["committed_at"] == before_sigs


def test_reps_groupby_shape_matches_window_semantics(spark, synth_parquet):
    """The skew-safe groupBy-min + join reps shape must emit the exact edge
    set of the old window-min formulation (byte-identical member edges),
    including on a viral key (one caption shared by half the rows)."""
    from pyspark.sql import Window

    from dedup.pipeline import exact_member_edges

    images = spark.read.parquet(synth_parquet)
    keys = images.select(
        "image_id", F.sha2(F.col("bytes"), 256).alias("sha"),
        # viral family: half the corpus collapses onto one caption
        F.when(F.crc32(F.col("image_id")) % 2 == 0, F.lit("VIRAL"))
        .otherwise(F.col("caption")).alias("caption"),
        "phash",
    )
    got = {tuple(r) for r in exact_member_edges(keys).collect()}
    exploded = keys.select(
        "image_id",
        F.expr(
            "explode(array("
            "struct('exact' AS kind, concat_ws('|', sha, caption) AS k), "
            "struct('minhash' AS kind, caption AS k), "
            "struct('simhash' AS kind, CAST(phash AS STRING) AS k)))"
        ).alias("e"),
    ).select("image_id", F.col("e.kind").alias("kind"), F.col("e.k").alias("k"))
    w = Window.partitionBy("kind", "k")
    want = {
        tuple(r)
        for r in exploded.select(
            F.min("image_id").over(w).alias("id_a"),
            F.col("image_id").alias("id_b"),
            F.col("kind").alias("match_type"),
            F.lit(1.0).alias("score"),
        )
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
        .collect()
    }
    assert got == want and len(got) > 100


def test_resume_with_auto_band_groups(spark, synth_parquet):
    """band_groups='auto' must resolve the SAME grouping on resume (it reads
    the committed signatures manifest, not live data), so a killed auto-run
    reuses its committed scored stage and reproduces identical assignments."""
    import tempfile

    wh = tempfile.mkdtemp(prefix="auto_resume_wh_")
    images = spark.read.parquet(synth_parquet)
    p = Pipeline(wh, band_groups="auto")
    res = {r["image_id"]: r["cluster_id"] for r in p.run(spark, images).collect()}
    # small corpus -> one band group committed under the full-range name
    assert p.wh.is_complete("scored_minhash_b00_31")
    ts = p.wh.manifest("scored_minhash_b00_31")["committed_at"]

    p2 = Pipeline(wh, band_groups="auto")
    p2.wh.invalidate_after("edges_simhash")
    res2 = {r["image_id"]: r["cluster_id"] for r in p2.run(spark, images).collect()}
    assert res2 == res
    # the committed band group was reused, not recomputed
    assert p2.wh.manifest("scored_minhash_b00_31")["committed_at"] == ts


def test_reps_hot_key_routing_equality(spark, synth_parquet):
    """Forcing the broadcast hot-key path (threshold 2, so every dup family
    is 'hot'; cap 3, so families past the cap fall back to the cold join)
    must emit the exact same edge set as the all-cold default — routing is
    a physical decision, never a semantic one."""
    from dedup.pipeline import exact_member_edges

    images = spark.read.parquet(synth_parquet)
    keys = images.select(
        "image_id", F.sha2(F.col("bytes"), 256).alias("sha"),
        F.when(F.crc32(F.col("image_id")) % 2 == 0, F.lit("VIRAL"))
        .otherwise(F.col("caption")).alias("caption"),
        "phash",
    )
    cold = {tuple(r) for r in exact_member_edges(keys).collect()}
    hot = {
        tuple(r)
        for r in exact_member_edges(keys, hot_key_rows=2, hot_key_cap=3).collect()
    }
    assert hot == cold and len(cold) > 100


def test_reps_null_caption_contract(spark):
    """NULL collapse keys emit NO edges from the caption/phash tiers (NULL
    is no evidence of duplication — the r03 window shape over-merged every
    captionless image into one cluster), while byte-identical NULL-caption
    rows still collapse through the exact tier (concat_ws drops the NULL,
    leaving the bare sha) — the same NULL contract as the streaming tier."""
    from dedup.pipeline import exact_member_edges

    keys = spark.createDataFrame(
        [
            ("a", "s1", None, 1),   # same bytes as b, no caption
            ("b", "s1", None, 2),   # -> merge via exact tier (sha-only key)
            ("c", "s2", None, 3),   # different bytes, no caption -> singleton
            ("d", "s3", "cap", 4),
            ("e", "s4", "cap", 4),  # caption + phash dup of d
        ],
        "image_id string, sha string, caption string, phash long",
    )
    got = {(r.id_a, r.id_b, r.match_type) for r in exact_member_edges(keys).collect()}
    assert got == {
        ("a", "b", "exact"),      # NULL-caption byte twins collapse
        ("d", "e", "minhash"),    # captioned dup family unaffected
        ("d", "e", "simhash"),
    }


def test_degenerate_inputs(spark, tmp_path_factory):
    """Empty and single-row corpora run the full pipeline cleanly — at
    100 TB a partition-filtered slice can legitimately be empty, and every
    stage (skew collect, CC, reps, metrics) must degrade to zero/one rows
    instead of erroring on a missing aggregate row."""
    from dedup import synth
    from dedup.pipeline import Pipeline

    base = tmp_path_factory.mktemp("degen")
    empty = spark.createDataFrame(
        [], "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long",
    )
    assert Pipeline(str(base / "wh0")).run(spark, empty).count() == 0

    src = str(base / "one.parquet")
    synth.write_parquet(src, 1, seed=3)
    out = Pipeline(str(base / "wh1")).run(spark, spark.read.parquet(src)).collect()
    assert len(out) == 1 and out[0]["cluster_id"] == out[0]["image_id"]


def _small_input(spark, tmp_path, n: int = 80, seed: int = 31):
    import pyarrow.parquet as pq

    from dedup import synth

    rows = synth.generate(n, seed=seed)
    src = str(tmp_path / "img.parquet")
    pq.write_table(synth.to_arrow(rows), src)
    return rows, spark.read.parquet(src)


def test_nondeterministic_input_raises(spark, tmp_path):
    """keys and signatures scan the input separately: a filter that draws a
    fresh random number per evaluation hands them different rows, and the
    digests their writes observed disagree. (Spark's rand() would not show
    it: its seed is fixed in the plan and both scans split the file alike,
    so it keeps the same rows in both.)"""
    import random

    _, images = _small_input(spark, tmp_path)
    coin = F.udf(lambda _: random.random() < 0.5, "boolean").asNondeterministic()
    with pytest.raises(ValueError, match="not deterministic"):
        Pipeline(str(tmp_path / "wh")).run(spark, images.where(coin("image_id")))


def test_signatures_without_format_recomputes(spark, tmp_path):
    """A signatures table an earlier engine committed (no `fps` column, and a
    manifest without `input_digest` or `format`) does not resume: the rerun
    recomputes it with `fps`, and the substring pass over it gives the same
    edges and clusters."""
    import json
    import os
    import shutil

    rows, images = _small_input(spark, tmp_path)
    wh = str(tmp_path / "wh")
    p = Pipeline(wh)
    p.run(spark, images)

    def edges():
        return sorted(map(tuple, spark.read.parquet(os.path.join(wh, "edges_substring")).collect()))

    before = edges()
    assert before  # synth captions carry fragment pairs
    # rewrite the committed table without the column, and its manifest
    # without the column in `schema`, `input_digest` and `format`
    sig_dir, old_dir = os.path.join(wh, "signatures"), str(tmp_path / "sig_old")
    shutil.move(sig_dir, old_dir)
    spark.read.parquet(old_dir).drop("fps").write.parquet(sig_dir)
    path = p.wh._manifest_path("signatures")
    with open(path) as f:
        man = json.load(f)
    man["schema"]["fields"] = [c for c in man["schema"]["fields"] if c["name"] != "fps"]
    del man["input_digest"], man["format"]
    with open(path, "w") as f:
        json.dump(man, f)
    p.wh.invalidate_after("edges_substring")
    assert not p.wh.is_complete("signatures") and not p.wh.is_complete("pairs")

    res = {r["image_id"]: r["cluster_id"] for r in Pipeline(wh).run(spark, images).collect()}
    assert res == oracle_clusters(rows, oracle_pairs(rows))
    assert edges() == before
    new = p.wh.manifest("signatures")
    assert new["committed_at"] > man["committed_at"] and "input_digest" in new  # rewritten
    assert "fps" in spark.read.parquet(sig_dir).columns


def test_failed_fidelity_resume_launches_no_job(spark, tmp_path):
    """A resume whose committed keys manifest records failed rows raises
    before it submits anything — also when `signatures`, which no longer
    waits for `keys`, is not committed and would otherwise start first."""
    import pyarrow.parquet as pq

    from dedup import synth

    rows = synth.generate(60, seed=5)
    rows[3] = {**rows[3], "phash": rows[3]["phash"] ^ 0xFFFF}  # fails the pHash recompute
    src = str(tmp_path / "bad.parquet")
    pq.write_table(synth.to_arrow(rows), src)
    images = spark.read.parquet(src)
    wh = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="1 rows failed"):
        Pipeline(wh).run(spark, images)
    p = Pipeline(wh)
    p.wh.invalidate_after("signatures")  # as if the abort had cancelled it
    assert p.wh.is_complete("keys") and not p.wh.is_complete("signatures")

    sc = spark.sparkContext
    sc.setJobGroup("failed-fidelity-resume", "no job may run")
    try:
        with pytest.raises(ValueError, match="1 rows failed"):
            Pipeline(wh).run(spark, images)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("failed-fidelity-resume")) == []
