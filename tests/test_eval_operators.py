"""Round-3 evaluation operators: AUC-ROC (hand-computed rank-sum cases),
the per-row eval-results table (reference test_results.parquet shape), the
per-member outlier/probability analogs, and the per-category error export."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dedup.evaluation import auc_roc, eval_results


def _auc(spark, rows):
    df = spark.createDataFrame(rows, "score double, label boolean")
    return auc_roc(df).collect()[0]


def test_auc_perfect_separation(spark):
    r = _auc(spark, [(0.9, True), (0.8, True), (0.2, False), (0.1, False)])
    assert r["auc"] == 1.0 and r["n_pos"] == 2 and r["n_neg"] == 2


def test_auc_inverted(spark):
    r = _auc(spark, [(0.1, True), (0.2, True), (0.8, False), (0.9, False)])
    assert r["auc"] == 0.0


def test_auc_all_tied_is_half(spark):
    r = _auc(spark, [(0.5, True), (0.5, False), (0.5, True), (0.5, False)])
    assert r["auc"] == 0.5


def test_auc_hand_computed_mixed(spark):
    # ranks: 0.1(neg) 0.35(pos) 0.4(neg) 0.8(pos) -> U = 1 + 2 = 3 of 4
    r = _auc(spark, [(0.1, False), (0.4, False), (0.35, True), (0.8, True)])
    assert r["auc"] == 0.75


def test_auc_hand_computed_with_ties(spark):
    # pos@0.5 beats neg@0.2 (1), ties neg@0.5 (0.5); pos@0.9 beats both (2)
    # -> (1 + 0.5 + 2) / 4 = 0.875
    r = _auc(spark, [(0.2, False), (0.5, True), (0.5, False), (0.9, True)])
    assert r["auc"] == 0.875


def test_auc_single_class_is_null(spark):
    r = _auc(spark, [(0.2, True), (0.5, True)])
    assert r["auc"] is None


def test_auc_no_window_over_raw_rows(spark):
    """Scale shape: the running-total window must run AFTER the score
    groupBy (over distinct scores), never over the raw row stream."""
    df = spark.createDataFrame([(0.5, True)] * 10, "score double, label boolean")
    plan = auc_roc(df)._jdf.queryExecution().optimizedPlan().toString()
    # Window's child subtree must contain the Aggregate, i.e. Aggregate
    # appears below Window in the plan text order Window...Aggregate
    assert plan.index("Window") < plan.index("Aggregate", plan.index("Window"))


def test_eval_results_table_roundtrip(spark, tmp_path):
    """Shape + semantics of the reference's test_results.parquet
    (fine_tune_sbert.py:596-633): predicted = similarity >= best(F1)
    threshold; correct = predicted == label; parquet roundtrip preserves
    the table exactly."""
    rows = [
        ("a1", "b1", 0.9, True),
        ("a2", "b2", 0.8, True),
        ("a3", "b3", 0.3, False),
        ("a4", "b4", 0.6, False),
        ("a5", "b5", 0.7, True),
    ]
    scored = spark.createDataFrame(rows, "id_a string, id_b string, score double, label boolean")
    out = eval_results(scored)
    assert out.columns == [
        "id_a", "id_b", "similarity", "true_label",
        "best_threshold", "predicted_match", "correct_prediction",
    ]
    got = {r["id_a"]: r for r in out.collect()}
    # F1 hits 1.0 first at threshold 0.61 (>= excludes the 0.6 negative);
    # argmax ties break toward the SMALLEST threshold
    assert all(r["best_threshold"] == 0.61 for r in got.values())
    assert got["a4"]["predicted_match"] is False and got["a4"]["correct_prediction"] is True
    assert got["a5"]["predicted_match"] is True and got["a5"]["correct_prediction"] is True
    p = str(tmp_path / "test_results.parquet")
    out.write.parquet(p)
    back = spark.read.parquet(p)
    assert back.schema == out.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, out.collect()))


def test_member_scores_semantics(spark):
    from dedup.pipeline import member_scores

    asg = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")],
        "image_id string, cluster_id string",
    )
    # a-b tight (d=0.1), a-c loose (d=0.5), b-c loose (d=0.5); z singleton
    pairs = spark.createDataFrame(
        [("a", "b", 0.9), ("a", "c", 0.5), ("b", "c", 0.5)],
        "id_a string, id_b string, score double",
    )
    got = {r["image_id"]: r for r in member_scores(asg, pairs).collect()}
    assert got["c"]["outlier_score"] == 0.5  # (0.5 + 0.5) / 2
    assert got["a"]["outlier_score"] == 0.3  # (0.1 + 0.5) / 2
    assert got["c"]["cluster_probability"] == 0.0  # the cluster-max member
    assert got["z"]["outlier_score"] == 0.0 and got["z"]["cluster_probability"] == 1.0
    assert got["a"]["cluster_probability"] == 0.4  # 1 - 0.3/0.5


def test_member_scores_count_each_pair_once(spark):
    """A pair rediscovered by several tiers (one row per match_type in the
    pairs table) must contribute ONCE, at its best evidence — not once per
    tier. Here a-b is both an exact dup (score 1.0, three reps rows) and a
    minhash pair (0.8): the mean distance for a must weight the a-b pair as
    d=0, giving outlier_score (0 + 0.2) / 2 = 0.1, not a rediscovery-
    weighted blend."""
    from dedup.pipeline import member_scores

    asg = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], "image_id string, cluster_id string"
    )
    pairs = spark.createDataFrame(
        [
            ("a", "b", "exact", 1.0),
            ("a", "b", "minhash", 0.8),
            ("a", "b", "simhash", 1.0),
            ("a", "c", "minhash", 0.8),
        ],
        "id_a string, id_b string, match_type string, score double",
    )
    got = {r["image_id"]: r for r in member_scores(asg, pairs).collect()}
    assert got["a"]["outlier_score"] == 0.1  # (0.0 + 0.2) / 2
    assert got["b"]["outlier_score"] == 0.0  # best evidence for a-b is exact
    assert got["c"]["outlier_score"] == 0.2


def test_member_scores_stage_committed(spark, tmp_path):
    """The pipeline commits the per-member table (cluster_results shape)."""
    import pyarrow.parquet as pq

    from dedup import synth
    from dedup.pipeline import Pipeline

    rows = synth.generate(80, seed=31)
    src = str(tmp_path / "img.parquet")
    pq.write_table(synth.to_arrow(rows), src)
    wh = str(tmp_path / "wh")
    asg = Pipeline(wh).run(spark, spark.read.parquet(src))
    ms = spark.read.parquet(os.path.join(wh, "member_scores"))
    assert ms.columns == ["image_id", "cluster_id", "outlier_score", "cluster_probability"]
    assert ms.count() == asg.count()  # one row per image
    bad = ms.where(
        (F.col("outlier_score") < 0) | (F.col("cluster_probability") < 0)
        | (F.col("cluster_probability") > 1)
    )
    assert bad.count() == 0
    # assignments agree with the member table's cluster ids
    j = asg.join(ms.withColumnRenamed("cluster_id", "c2"), "image_id")
    assert j.where(F.col("cluster_id") != F.col("c2")).count() == 0


def test_rollups_match_brute_force(spark):
    """metrics and member_scores against a pandas brute force over
    hand-built stage rows, covering: a singleton (z); a cluster with no
    root-touching pair (d: rep_mean_dist NULL); cross-cluster near-misses
    counted in both endpoint clusters' inter_mean_dist (c-e, b-g, f-z; c-e
    sampled by two band groups, counted once); a pair found by two tiers
    (a-b) counted once, at its best score, in member_scores."""
    import math

    import pandas as pd

    from dedup.pipeline import cluster_metrics, member_scores

    thr = 0.6
    asg_rows = [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "d"),
                ("g", "g"), ("h", "g"), ("z", "z")]
    pair_rows = [
        ("a", "b", "exact", 1.0), ("a", "b", "minhash", 0.8), ("b", "c", "minhash", 0.7),
        ("a", "c", "substring", 0.9), ("e", "f", "substring", 0.85), ("e", "f", "simhash", 0.9),
        ("g", "h", "simhash", 0.95),  # no pair touches root d
    ]
    scored_rows = [
        ("a", "b", 0.8),  # verified: not a near-miss
        ("c", "e", 0.3), ("c", "e", 0.3),  # one near-miss, two band groups
        ("b", "g", 0.45), ("a", "c", 0.4),  # cross / same-cluster near-miss
        ("f", "z", 0.2),  # cross-cluster near-miss touching the singleton
    ]
    asg = spark.createDataFrame(asg_rows, "image_id string, cluster_id string")
    pairs = spark.createDataFrame(pair_rows, "id_a string, id_b string, match_type string, score double")
    scored = spark.createDataFrame(scored_rows, "id_a string, id_b string, score double")

    A = pd.DataFrame(asg_rows, columns=["image_id", "cluster_id"])
    P = pd.DataFrame(pair_rows, columns=["id_a", "id_b", "match_type", "score"])
    S = pd.DataFrame(scored_rows, columns=["id_a", "id_b", "score"])
    cl = dict(asg_rows)
    P["cluster_id"] = P["id_a"].map(cl)
    near = S[S["score"] < thr].drop_duplicates()
    cross = [(cl[a], cl[b], s) for a, b, s in near.itertuples(index=False) if cl[a] != cl[b]]

    want = {}
    for cid, members in A.groupby("cluster_id")["image_id"]:
        cp = P[P["cluster_id"] == cid]
        root = cp[(cp["id_a"] == cid) | (cp["id_b"] == cid)]
        inter = [s for x, y, s in cross if cid in (x, y)]
        want[cid] = {
            "size": len(members),
            "avg_score": cp["score"].mean() if len(cp) else None,
            "min_score": cp["score"].min() if len(cp) else None,
            "intra_mean_dist": 1 - cp["score"].mean() if len(cp) else None,
            **{f"n_{t}": int((cp["match_type"] == t).sum())
               for t in ("exact", "minhash", "simhash", "substring")},
            "rep_mean_dist": 1 - root["score"].mean() if len(root) else None,
            "inter_mean_dist": 1 - sum(inter) / len(inter) if inter else None,
        }
    got = {r["cluster_id"]: r.asDict() for r in cluster_metrics(asg, pairs, scored, thr).collect()}
    assert set(got) == set(want)
    for cid, w in want.items():
        for k, v in w.items():
            g = got[cid][k]
            if v is None:
                assert g is None, (cid, k, g)
            else:
                assert g is not None and math.isclose(g, v, abs_tol=5e-5), (cid, k, g, v)
    assert got["z"]["size"] == 1 and got["z"]["intra_mean_dist"] is None
    assert got["d"]["rep_mean_dist"] is None and got["d"]["intra_mean_dist"] is not None
    assert got["a"]["inter_mean_dist"] == round(1 - (0.3 + 0.45) / 2, 4)
    assert got["d"]["inter_mean_dist"] == round(1 - (0.3 + 0.2) / 2, 4)

    best = P.groupby(["id_a", "id_b"])["score"].max().reset_index()
    dist: dict = {}
    for a, b, s in best.itertuples(index=False):
        for m in (a, b):
            dist.setdefault(m, []).append(1 - s)
    m = {i: (sum(dist[i]) / len(dist[i]) if i in dist else 0.0) for i in cl}
    mx = {c: max(m[i] for i in cl if cl[i] == c) for c in set(cl.values())}
    ms = {r["image_id"]: r for r in member_scores(asg, pairs).collect()}
    assert set(ms) == set(cl)
    for i, c in cl.items():
        assert ms[i]["cluster_id"] == c
        assert math.isclose(ms[i]["outlier_score"], m[i], abs_tol=5e-5), (i, ms[i], m[i])
        p = 1 - m[i] / mx[c] if mx[c] > 0 else 1.0
        assert math.isclose(ms[i]["cluster_probability"], p, abs_tol=5e-5), (i, ms[i], p)
    assert ms["a"]["outlier_score"] == 0.05  # (0 for a-b at its exact 1.0 + 0.1) / 2
    assert ms["z"]["outlier_score"] == 0.0 and ms["z"]["cluster_probability"] == 1.0
