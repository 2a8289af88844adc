"""YAML golden-checks ingest (S6), streaming fuzzy compaction, and
unicode/empty-caption robustness through the full pipeline."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dedup import synth
from dedup.evaluation import evaluate_checks, load_checks_yaml
from dedup.pipeline import Pipeline
from dedup.reference_impl import oracle_clusters, oracle_pairs
from dedup.streaming import compact_fuzzy, incremental_dedup_stream

CHECKS_YML = """\
checks:
  - match: true
    schema: Person
    label: exact same person
    query: {name: "Jane Q. Doe"}
    candidate: {name: "Jane Q. Doe"}
  - match: false
    schema: Person
    label: different people
    query: {name: "Jane Q. Doe"}
    candidate: {name: "John Smith"}
  - match: true
    schema: Company
    label: suffix variation
    query: {name: "Acme Inc"}
    candidate: {name: "Acme Ltd"}
"""


def test_load_checks_yaml_and_evaluate(spark, tmp_path):
    """Reference checks.yml shape loads to a typed DataFrame; schema filter
    mirrors filter_checks_by_schema; the loaded cases drive evaluate_checks."""
    p = tmp_path / "checks.yml"
    p.write_text(CHECKS_YML)
    checks = load_checks_yaml(spark, str(p))
    assert checks.count() == 3
    persons = load_checks_yaml(spark, str(p), schemas=["Person"])
    assert {r["schema"] for r in persons.collect()} == {"Person"}
    # engine "predicts" only the exact pair -> Person checks score perfectly
    pairs = spark.createDataFrame(
        [("Jane Q. Doe", "Jane Q. Doe")], "id_a string, id_b string"
    )
    m = evaluate_checks(persons, pairs).first()
    assert m["tp"] == 1 and m["tn"] == 1 and m["fp"] == 0 and m["fn"] == 0


def test_compact_fuzzy_refines_stream_clusters(spark, tmp_path):
    """An exact-tier stream (the default, fuzzy=False) drains the landing
    dir; compact_fuzzy runs the batch pipeline over the landed files and
    must (a) merge the near-dup families the stream did not, (b) never
    split a stream cluster, and (c) equal the brute-force oracle."""
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = synth.generate(300, seed=21)
    pq.write_table(synth.to_arrow(rows[:150]), str(landing / "a.parquet"))
    pq.write_table(synth.to_arrow(rows[150:]), str(landing / "b.parquet"))
    wh = str(tmp_path / "wh")
    incremental_dedup_stream(spark, str(landing), wh, str(tmp_path / "ck")).awaitTermination()
    stream = {
        r["image_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(wh, "stream_assignments")).collect()
    }
    compacted = {
        r["image_id"]: r["cluster_id"] for r in compact_fuzzy(spark, str(landing), wh).collect()
    }
    assert compacted == oracle_clusters(rows, oracle_pairs(rows))
    # refinement: same stream cluster -> same compacted cluster (no splits)
    from collections import defaultdict

    by_stream = defaultdict(set)
    for img, c in stream.items():
        by_stream[c].add(compacted[img])
    assert all(len(v) == 1 for v in by_stream.values())
    # and the fuzzy pass actually merged something the exact tier could not
    assert len(set(compacted.values())) < len(set(stream.values()))


def test_pipeline_unicode_and_empty_captions(spark, tmp_path):
    """UTF-8 captions (CJK, diacritics, emoji) and empty captions flow
    through signatures/LSH/CC and match the numpy oracle exactly — the
    shingle kernel operates on UTF-8 bytes identically on both sides."""
    rows = synth.generate(80, seed=31)
    unicode_caps = [
        "café au lait — très bon café au lait du matin",
        "深度学习模型训练数据集 图像去重 管道",
        "\U0001f4a1 emoji caption \U0001f680 with symbols ☃",
        "",
    ]
    # each unicode caption appears TWICE (distinct images) -> caption-equal dups
    for i, cap in enumerate(unicode_caps):
        rows[2 * i]["caption"] = cap
        rows[2 * i + 1]["caption"] = cap
    path = str(tmp_path / "img.parquet")
    pq.write_table(synth.to_arrow(rows), path)
    res = {
        r["image_id"]: r["cluster_id"]
        for r in Pipeline(str(tmp_path / "wh")).run(spark, spark.read.parquet(path)).collect()
    }
    assert res == oracle_clusters(rows, oracle_pairs(rows))
    for i in range(len(unicode_caps)):
        a, b = rows[2 * i]["image_id"], rows[2 * i + 1]["image_id"]
        assert res[a] == res[b], unicode_caps[i]
    # unicode survived the round trip (not mangled to replacement chars)
    back = spark.read.parquet(path).where(F.col("image_id") == rows[2]["image_id"]).first()
    assert back["caption"] == unicode_caps[1]
