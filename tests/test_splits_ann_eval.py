"""Tests: cluster-atomic splits + leak audit, ANN LSH recall, evaluation ops."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup import ann
from dedup.deploy import ensure_shipped
from dedup.evaluation import best_threshold, confusion_metrics, evaluate_checks
from dedup.splits import assign_splits, leak_audit


# ------------------------------------------------------------------ splits


def test_splits_cluster_atomic(spark):
    rows = [(f"r{i}", f"c{i % 37}") for i in range(500)]
    asg = spark.createDataFrame(rows, "image_id string, cluster_id string")
    sp = assign_splits(asg)
    assert leak_audit(sp).count() == 0  # no cluster straddles splits (C8)
    frac = {r["split"]: r["n"] for r in sp.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(frac) <= {"train", "eval", "test"}
    assert frac["train"] > frac.get("eval", 0) and frac["train"] > frac.get("test", 0)


def test_splits_deterministic(spark):
    asg = spark.createDataFrame([(f"r{i}", f"c{i}") for i in range(100)], "image_id string, cluster_id string")
    a = {r["image_id"]: r["split"] for r in assign_splits(asg).collect()}
    b = {r["image_id"]: r["split"] for r in assign_splits(asg.repartition(7)).collect()}
    assert a == b


# --------------------------------------------------------------------- ann


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal((40, 32)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a near-duplicate of each: tiny perturbation -> cosine ~0.999
        rows.append((1000 + i, [float(x) for x in (v + 0.02 * rng.standard_normal(32))]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_near_pairs_recall(spark, vec_df):
    ensure_shipped(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in ann.lsh_near_pairs(vec_df, dim=32, threshold=0.98, bits=8, tables=8).collect()
    }
    expected = {(i, 1000 + i) for i in range(40)}
    # hyperplane LSH at cosine>=0.98: per-table collision ~0.96^8, 8 tables
    recall = len(got & expected) / len(expected)
    assert recall >= 0.95
    # precision: verified inline, so nothing below threshold leaks through
    assert all(a < 1000 and b >= 1000 for a, b in got & expected)


@pytest.fixture(scope="module")
def clustered_df(spark):
    """Planted-cluster corpus (the embedding-model regime IVF targets):
    20 well-separated centers, 30 members each with small isotropic noise —
    a probe's true top-k lives inside its own center's cell."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((20, 32)).astype(np.float32) * 4.0
    rows = []
    for ci, c in enumerate(centers):
        for m in range(30):
            v = c + 0.3 * rng.standard_normal(32).astype(np.float32)
            rows.append((ci * 100 + m, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_centroids_deterministic(spark, clustered_df):
    ensure_shipped(spark)
    c1 = ann.ivf_centroids(clustered_df, nlist=20)
    c2 = ann.ivf_centroids(clustered_df.repartition(11), nlist=20)
    assert np.array_equal(c1, c2)  # hash-thinned sample + sort: partitioning-proof
    assert c1.shape == (20, 32)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-5)


def test_ivf_topk_recall_on_clustered_corpus(spark, clustered_df):
    """On clustered data (what embedding models emit), probing 2/20 cells
    (10% of the corpus) must recover >= 0.9 of the exact top-10 — the
    density-adaptive win over data-independent hyperplane buckets."""
    ensure_shipped(spark)
    probes = clustered_df.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("qe")
    )
    exact = {
        (r["probe_id"], r["vec_id"])
        for r in ann.batch_topk(clustered_df, probes, k=10).collect()
    }
    approx = {
        (r["probe_id"], r["vec_id"])
        for r in ann.ivf_topk(clustered_df, probes, k=10, nlist=20, nprobe=2).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.9


def test_probe_side_reaches_every_cell_at_4600_cells(spark):
    """Direct probe-contract pin at a REALISTIC cell count (far above what
    the kmeans fixtures train): with nprobe == nlist every one of the 4600
    cells must come back, exactly ranked by cosine."""
    ensure_shipped(spark)
    rng = np.random.default_rng(5)
    C = rng.normal(size=(4600, 8)).astype(np.float32)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    v = rng.normal(size=8).astype(np.float32)
    df = spark.createDataFrame(
        [("p0", [float(x) for x in v])], "vec_id string, embedding array<float>"
    )
    (row,) = ann.with_ivf_cells(df, C, nprobe=len(C)).select("cells").collect()
    assert len(row["cells"]) == len(C)
    vn = v / np.linalg.norm(v)
    exact = np.argsort(-(C @ vn), kind="stable")
    assert list(row["cells"]) == [int(i) for i in exact]


def test_ivf_exhaustive_probe_equals_exact(spark, vec_df):
    """nprobe == nlist scans every cell: the IVF plumbing (cell assignment,
    join, re-rank) must then reproduce the exact batch top-k bit-for-bit —
    any scoring or candidate-plumbing bug surfaces as a diff."""
    ensure_shipped(spark)
    probes = vec_df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("qe")
    )
    exact = sorted(map(tuple, ann.batch_topk(vec_df, probes, k=5).collect()))
    exh = sorted(map(tuple, ann.ivf_topk(vec_df, probes, k=5, nlist=8, nprobe=8).collect()))
    assert exh == exact


def test_ivf_cells_bounded_and_auto_nlist(spark, clustered_df):
    """Every corpus row lands in exactly ONE cell, and auto_nlist keeps the
    expected cell population ~sqrt(n) (the probe-cost minimizer)."""
    ensure_shipped(spark)
    cents = ann.ivf_centroids(clustered_df, nlist=20)
    cells = ann.with_ivf_cells(clustered_df, cents, nprobe=1)
    sizes = (
        cells.select(F.explode("cells").alias("cell"))
        .groupBy("cell").count().collect()
    )
    assert sum(r["count"] for r in sizes) == 600  # one cell per row
    # planted 20 centers / 20 cells: k-means recovers balanced cells
    assert max(r["count"] for r in sizes) <= 3 * (600 // 20)
    assert ann.auto_nlist(1) == 16 and ann.auto_nlist(10**6) == 1000
    assert ann.auto_nlist(10**12) == 65_536  # broadcastable ceiling


# -------------------------------------------------------------- evaluation


def test_confusion_metrics(spark):
    rows = [(True, True)] * 8 + [(False, True)] * 2 + [(False, False)] * 7 + [(True, False)] * 3
    df = spark.createDataFrame(rows, "label boolean, predicted_match boolean")
    m = confusion_metrics(df).first()
    assert (m["tp"], m["fp"], m["tn"], m["fn"]) == (8, 2, 7, 3)
    assert m["precision"] == 0.8 and abs(m["recall"] - 8 / 11) < 1e-3
    assert m["accuracy"] == 0.75


def test_best_threshold(spark):
    # scores: positives ~0.8, negatives ~0.2 -> best threshold in between
    rows = [(0.8 + 0.01 * i, True) for i in range(10)] + [(0.2 + 0.01 * i, False) for i in range(10)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    best = best_threshold(df).first()
    assert best["f1"] == 1.0
    assert 0.29 < best["threshold"] <= 0.8  # ties -> smallest winning threshold


def test_evaluate_checks(spark):
    pairs = spark.createDataFrame([("a", "b"), ("c", "d")], "id_a string, id_b string")
    checks = spark.createDataFrame(
        [("a", "b", True), ("c", "d", True), ("a", "c", False), ("b", "d", True)],
        "query_id string, candidate_id string, match boolean",
    )
    m = evaluate_checks(checks, pairs).first()
    # predicted: ab yes (tp), cd yes (tp), ac no (tn), bd no (fn)
    assert (m["tp"], m["fp"], m["tn"], m["fn"]) == (2, 0, 1, 1)


def test_stratified_sample_deterministic_and_proportional(spark):
    """splits.stratified_sample: exact same ROW SET on rerun (pure function
    of key/stratum/fraction), per-stratum rates near target, unlisted strata
    dropped."""
    from pyspark.sql import functions as F

    from dedup.splits import stratified_sample

    df = spark.range(0, 6000).select(
        F.col("id"), F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("xx")), (F.col("id") % 3 + 1).cast("int")).alias("lang")
    )
    frac = {"en": 0.5, "de": 0.2}
    a = sorted(r["id"] for r in stratified_sample(df, "id", "lang", frac).collect())
    b = sorted(r["id"] for r in stratified_sample(df, "id", "lang", frac).collect())
    assert a == b and a
    counts = (
        stratified_sample(df, "id", "lang", frac)
        .groupBy("lang").count().collect()
    )
    by = {r["lang"]: r["count"] for r in counts}
    assert "xx" not in by
    assert abs(by["en"] / 2000 - 0.5) < 0.06
    assert abs(by["de"] / 2000 - 0.2) < 0.06


def test_select_exemplars_quality_argmax_no_window(spark):
    """Highest quality wins, ties to min id; and the plan is a groupBy
    argmax (partial-aggregating), NOT a window — a window over cluster_id
    materializes a viral cluster in one task (the r03 reps straggler)."""
    from dedup.splits import select_exemplars

    mem = spark.createDataFrame(
        [
            ("c1", "a", 10), ("c1", "b", 30), ("c1", "c", 30),  # tie b/c -> b
            ("c1", "d", None),                                   # NULL loses, never wins
            ("c2", "z", 5),                                      # singleton
            ("c3", "n", None),                                   # all-NULL cluster dropped
        ],
        "cluster_id string, image_id string, quality long",
    )
    out = select_exemplars(mem)
    got = {(r["cluster_id"], r["exemplar_id"], r["quality"]) for r in out.collect()}
    assert got == {("c1", "b", 30), ("c2", "z", 5)}
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" not in plan
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2  # partial+final


# ----------------------------------------------------- SemDeDup operator


def _pad_ids(df):
    return df.select(
        F.format_string("v%04d", F.col("vec_id")).alias("vec_id"), "embedding"
    )


def test_semantic_dedup_single_cell_equals_bruteforce(spark, vec_df):
    """nlist=1 puts every row in one cell — no pruning — so semantic_dedup
    must EQUAL the brute-force all-pairs cosine>=t union-find exactly
    (assignments AND keep flags). Ids zero-padded so the CC min-string
    root is the numeric min."""
    ensure_shipped(spark)
    from dedup.reference_impl import cosine_cluster_oracle

    got = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in ann.semantic_dedup(_pad_ids(vec_df), threshold=0.98, nlist=1).collect()
    }
    rows = sorted(vec_df.collect(), key=lambda r: r["vec_id"])
    ids = [f"v{r['vec_id']:04d}" for r in rows]
    roots, _ = cosine_cluster_oracle(ids, [r["embedding"] for r in rows], 0.98)
    want = {i: (r, int(r == i)) for i, r in roots.items()}
    assert got == want
    # the fixture plants 40 near-dup pairs: the oracle itself is non-trivial
    assert sum(k for _, k in want.values()) == 40


def test_semantic_dedup_clustered_refines_then_recovers(spark, clustered_df):
    """The embedding-model-shaped corpus, both probe regimes. nprobe=1 (the
    published SemDeDup recipe): every emitted cluster is PURE (a subset of
    one planted group — under-merge is the only legal error; a planted
    center whose members straddle a k-means cell boundary stays split:
    measured 23 clusters here). nprobe=2: one extra probe heals every
    boundary split — exactly the 20 planted groups of 30, one kept
    exemplar each, rooted at the group min id."""
    ensure_shipped(spark)

    def run(nprobe):
        out = ann.semantic_dedup(
            _pad_ids(clustered_df), threshold=0.9, nlist=20, nprobe=nprobe
        ).collect()
        assert len(out) == 600
        groups: dict = {}
        for r in out:
            groups.setdefault(r["cluster_id"], []).append(r)
        for cid, members in groups.items():
            # purity (refinement): planted ids are ci*100+m -> one center
            assert len({r["vec_id"][:3] for r in members}) == 1
            assert sorted(r["vec_id"] for r in members)[0] == cid
            assert sum(r["keep"] for r in members) == 1
        return groups

    g1 = run(1)
    assert 20 <= len(g1) <= 30  # under-merge only, bounded split count
    g2 = run(2)
    assert len(g2) == 20
    assert all(len(m) == 30 for m in g2.values())


@pytest.mark.parametrize("nprobe", [1, 5])
def test_with_ivf_cells_multiprobe_matches_per_row_argsort(spark, clustered_df, nprobe):
    """The chunked whole-batch assignment must equal the naive per-row
    argsort (order and lowest-id tie-break included) — nprobe=1 is the
    ivf_topk corpus side (argmax branch), nprobe>1 feeds ivf_topk probes and
    semantic_dedup's multi-probe corpus side."""
    cents = ann.ivf_centroids(clustered_df, nlist=16)
    C = np.ascontiguousarray(cents, dtype=np.float32)
    got = {
        r["vec_id"]: r["cells"]
        for r in ann.with_ivf_cells(clustered_df, cents, nprobe=nprobe).collect()
    }
    for r in clustered_df.collect():
        x = np.asarray(r["embedding"], dtype=np.float32)
        xn = x / max(np.linalg.norm(x), 1e-12)
        want = np.argsort(-(C @ xn), kind="stable")[:nprobe].tolist()
        assert got[r["vec_id"]] == want
    # exact ties (basis-vector dot products are exact in float32): cells 0/2
    # and 1/3 are duplicates, and the lower cell id must come first
    E = np.eye(4, dtype=np.float32)
    ties = spark.createDataFrame(
        [(i, [float(x) for x in E[i]]) for i in range(2)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["cells"]
        for r in ann.with_ivf_cells(ties, E[[0, 1, 0, 1]], nprobe=nprobe).collect()
    }
    assert got == {0: [0, 2, 1, 3][:nprobe], 1: [1, 3, 0, 2][:nprobe]}
