"""Golden-case checks fixture (FIXTURES.md F4; role of the reference's
checks.yml, /root/reference/eridu/etl/checks_evaluation.py:22-68): labeled
query/candidate cases evaluated against the pipeline's pairs table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup.evaluation import evaluate_checks

@pytest.fixture(scope="module")
def pipeline_pairs(spark, assignments_wh):
    return spark.read.parquet(f"{assignments_wh}/pairs")


@pytest.fixture(scope="module")
def assignments_wh(spark, synth_parquet, tmp_path_factory):
    from dedup.pipeline import Pipeline

    wh = str(tmp_path_factory.mktemp("wh_checks"))
    Pipeline(wh).run(spark, spark.read.parquet(synth_parquet))
    return wh


def test_golden_checks(spark, synth_rows, pipeline_pairs, assignments_wh):
    # derive golden cases from the oracle so they are correct by construction:
    # same-cluster pairs -> match=True, cross-cluster -> False
    from dedup.reference_impl import oracle_clusters

    clusters = oracle_clusters(synth_rows)
    ids = sorted(clusters)
    cases = []
    seen_pos = seen_neg = 0
    for i in range(0, len(ids) - 1):
        a, b = ids[i], ids[i + 1]
        same = clusters[a] == clusters[b]
        if same and seen_pos < 20:
            cases.append((a, b, True))
            seen_pos += 1
        elif not same and seen_neg < 20:
            cases.append((a, b, False))
            seen_neg += 1
    assert seen_pos >= 5 and seen_neg >= 5
    checks = spark.createDataFrame(cases, "query_id string, candidate_id string, match boolean")

    # evaluate against CLUSTER CO-MEMBERSHIP (the engine's final verdict)
    asg = spark.read.parquet(f"{assignments_wh}/assignments")
    pairs_from_clusters = (
        asg.alias("x")
        .join(asg.alias("y"), F.col("x.cluster_id") == F.col("y.cluster_id"))
        .where(F.col("x.image_id") < F.col("y.image_id"))
        .select(F.col("x.image_id").alias("id_a"), F.col("y.image_id").alias("id_b"))
    )
    m = evaluate_checks(checks, pairs_from_clusters).first()
    # pipeline == oracle on this corpus, so the confusion matrix is perfect
    assert m["fn"] == 0 and m["fp"] == 0
    assert m["accuracy"] == 1.0 and m["f1"] == 1.0


def test_metrics_table_consistency(spark, assignments_wh):
    """Per-cluster metrics (role of analyze.py:144-157): sizes must sum to
    row count; edge-type counts must sum to the pairs table."""
    metrics = spark.read.parquet(f"{assignments_wh}/metrics")
    asg = spark.read.parquet(f"{assignments_wh}/assignments")
    pairs = spark.read.parquet(f"{assignments_wh}/pairs")
    assert metrics.agg(F.sum("size")).first()[0] == asg.count()
    typed = metrics.agg(
        (F.sum("n_exact") + F.sum("n_minhash") + F.sum("n_simhash") + F.sum("n_substring")).alias("n")
    ).first()["n"]
    assert typed == pairs.count()
    # every cluster id in metrics exists in assignments
    missing = metrics.join(asg.select("cluster_id").distinct(), "cluster_id", "left_anti")
    assert missing.count() == 0


def test_metrics_distance_columns(spark, assignments_wh):
    """Cluster-quality distance metrics (reference analyze.py:60-67,120-157):
    intra_mean_dist = 1 - mean pair score (within cluster), rep_mean_dist over
    root-touching pairs, inter_mean_dist over cross-cluster near-miss
    candidates. All bounded to [0, 1]; intra is NULL only for clusters with
    no committed pair (singletons)."""
    metrics = spark.read.parquet(f"{assignments_wh}/metrics")
    cols = set(metrics.columns)
    assert {"intra_mean_dist", "rep_mean_dist", "inter_mean_dist"} <= cols
    bad = metrics.where(
        (F.col("intra_mean_dist") < 0) | (F.col("intra_mean_dist") > 1)
        | (F.col("rep_mean_dist") < 0) | (F.col("rep_mean_dist") > 1)
        | (F.col("inter_mean_dist") < 0) | (F.col("inter_mean_dist") > 1)
    )
    assert bad.count() == 0
    # multi-member clusters must have a measured intra distance
    assert metrics.where((F.col("size") > 1) & F.col("intra_mean_dist").isNull()).count() == 0
    # exact-dup-dominated corpus: some clusters are perfectly tight (dist 0)
    assert metrics.where(F.col("intra_mean_dist") == 0.0).count() > 0
