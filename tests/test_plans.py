"""Physical-plan quality gates: the optimizations SURVEY.md §4 promises must
actually appear in the plans (pushdown, pruning, broadcast, top-k operator,
JVM-only verify paths) — and stay there."""

from __future__ import annotations

import pytest

from dedup import queries as q

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = q.REGISTRY[name][0](spark, SF)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def test_filter_pushdown_reaches_scan(spark):
    p = _plan(spark, "q02_filter_project")
    pushed = next(line for line in p.splitlines() if "PushedFilters" in line)
    assert "GreaterThan(l_quantity,45.0)" in pushed
    assert "EqualTo(l_returnflag,R)" in pushed


def test_column_pruning(spark):
    p = _plan(spark, "q01_pricing_summary")
    schema = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert "l_shipdate" not in schema and "l_orderkey" not in schema
    assert "l_quantity" in schema  # only the 5 needed columns reach the scan


def test_small_dims_broadcast(spark):
    p = _plan(spark, "q04_join_revenue_by_nation")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_topk_uses_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "q03_topk_customers")


def test_semi_join_operator(spark):
    assert "LeftSemi" in _plan(spark, "q05_semi_join")


def test_partial_aggregation(spark):
    # partial (map-side) + final hash aggregation around the exchange
    p = _plan(spark, "q01_pricing_summary")
    assert p.count("HashAggregate") >= 2


def test_phash_path_is_jvm_only(spark):
    """The fused pHash candidate+verify join must not ship rows to Python."""
    from pyspark.sql import functions as F

    from dedup import lsh

    images = spark.createDataFrame(
        [("a", 12345), ("b", 12346)], "rep_id string, phash long"
    )
    df = lsh.phash_candidates(images)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "EvalPython" not in p  # no BatchEvalPython / ArrowEvalPython operators
    # shuffle-hash, not sort-merge: SMJ would sort the 28x-exploded chunk
    # table twice to stream collisions the inline bit_count filter rejects
    # (measured 20.5s -> 13.3s at 340k distinct pHashes, local[4])
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p


def test_jaccard_verify_is_jvm_only(spark):
    """Exact-Jaccard verification is array_intersect, not a UDF."""
    from dedup import verify

    cand = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    sh = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", [2, 3, 4])], "rep_id string, shingles array<long>"
    )
    df = verify.verify_jaccard(cand, sh)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "EvalPython" not in p
    assert "array_intersect" in p


def test_batch_topk_broadcasts_probes(spark):
    """ann.batch_topk must broadcast the probe side (never shuffle the
    corpus against it) and stay JVM-side end to end."""
    p = _plan(spark, "q43_batch_ann_topk")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_reps_stage_has_no_window(spark):
    """The exact-collapse (reps) stage must compute group mins via
    partial-aggregated groupBy + join-back, never a Window — a window
    partitioned by the collapse key materializes the viral key's rows in
    ONE task (the r03 judge's hot-key straggler finding)."""
    from dedup.pipeline import exact_member_edges

    keys = spark.createDataFrame(
        [("a", "s1", "cap", 1), ("b", "s1", "cap", 1)],
        "image_id string, sha string, caption string, phash long",
    )
    df = exact_member_edges(keys)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" not in p
    # partial (map-side) + final min — min(string) has a var-width buffer,
    # so Spark plans it sort-based; the point is the partial/final pair
    assert p.count("SortAggregate") + p.count("HashAggregate") >= 2


def test_error_categorization_is_jvm_only(spark):
    """categorize_errors is a Catalyst CASE — no Python in the plan."""
    p = _plan(spark, "q40_error_categories")
    assert "EvalPython" not in p
    assert p.count("HashAggregate") >= 2  # partial + final rollup


def _arrow_udf_counts(p: str):
    """Per-UDF-name count of Arrow UDF EVALUATIONS in a formatted plan.
    Counts every `name(` inside each ArrowEvalPython node's Arguments list,
    not one per node: Spark batches adjacent Python UDFs into a single node
    (Arguments: [_f(x#1)#9, _f(y#2)#10]), and a re-inlining regression that
    lands both evals in one node must still trip the ==1-per-reference
    pins below."""
    import re
    from collections import Counter

    nodes = re.findall(
        r"\(\d+\) ArrowEvalPython\s+Input[^\n]*\nArguments: (.*)", p
    )
    c: Counter = Counter()
    for args in nodes:
        # take the WHOLE Arguments line (a ']' inside an expression argument
        # would truncate a bracket-bounded capture and undercount) and count
        # every invocation of the engine's underscore-named UDFs; nested
        # builtin calls (coalesce(, cast() count under their own names,
        # which no pin asserts on
        c.update(re.findall(r"(?<!\w)(_\w+)\(", args))
    return c


def test_explode_udf_paths_are_single_eval(spark):
    """Catalyst's InferFiltersFromGenerate + alias pushdown evaluated the
    LSH/IVF/winnow Arrow UDFs TWICE (or more) per row — Filter(size(udf)>0)
    re-inlined the UDF below the projection. The session excludes that rule
    (session.py / deploy.ensure_shipped), and the substring pass's fragment
    key leaves a Generate so the join's null filter cannot re-inline the
    caption kernel; these counts pin the fix: one eval per structural
    reference."""
    c = _arrow_udf_counts(_plan(spark, "q50_ann_ivf_topk"))
    assert c["_cells"] == 2, c  # one per side (corpus + probes), not 4
    c = _arrow_udf_counts(_plan(spark, "q33_ann_lsh_topk"))
    assert c["_bk"] == 2, c  # one per side, not 4
    c = _arrow_udf_counts(_plan(spark, "q29_winnow_substring_pass"))
    # the caption kernel, once per corpus union branch on each join side
    # (the container and fragment UDFs it replaced were bounded at 2 each)
    assert c["_caption_sigs"] <= 4, c
    # q39's signature moved from a pandas UDF to pure Catalyst in r05: the
    # pin is now that NO Python eval exists anywhere in the plan. Expression
    # duplication is bounded by structure (ph column + chunk-key expr, per
    # self-join side = 4 signature evals — the single-pass aggregate form;
    # the rejected 60-filter form inlined the md5 gram hashing 60x)
    p39 = _plan(spark, "q39_caption_simhash_pairs")
    assert "EvalPython" not in p39 and "ArrowEval" not in p39
    assert p39.count("named_struct(cnt") <= 8, p39.count("named_struct(cnt")


def test_repetition_filter_is_single_scan_no_shuffle(spark):
    """q56's statistics are per-row Catalyst expressions: one scan, no
    Exchange, no Python — and the staged projections pin the n-gram
    transform lambda to ONE evaluation per row (a flat select measured 5
    inlined copies via CollapseProject)."""
    p = _plan(spark, "q56_repetition_quality_filter")
    assert "Exchange" not in p
    assert "EvalPython" not in p
    assert "codegen id" in p
    assert p.count("transform(sequence") == 1


def test_pipeline_head_and_substring_plans(spark, synth_parquet, tmp_path, monkeypatch):
    """The pipeline's committed plans: the signatures stage scans the input
    without `bytes` (keys stays the only bytes scan), and edges_substring
    runs no Python — it joins the committed winnow sets in Catalyst."""
    from dedup.io import Warehouse
    from dedup.pipeline import Pipeline

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plans = {}
    write = Warehouse.write

    def record(self, df, stage, *a, **kw):
        plans[stage] = df._jdf.queryExecution().explainString(mode)
        return write(self, df, stage, *a, **kw)

    monkeypatch.setattr(Warehouse, "write", record)
    Pipeline(str(tmp_path / "wh")).run(spark, spark.read.parquet(synth_parquet))
    scans = [ln for ln in plans["signatures"].splitlines() if "ReadSchema" in ln]
    assert scans and all("bytes" not in ln and "caption" in ln for ln in scans), scans
    assert "bytes" in next(ln for ln in plans["keys"].splitlines() if "ReadSchema" in ln)
    assert "EvalPython" not in plans["edges_substring"]
    assert "_caption_sigs" in plans["signatures"]
    # the committed winnow sets stay out of the band join's scan
    band = next(s for s in plans if s.startswith("scored_minhash_"))
    assert "fps" not in next(ln for ln in plans[band].splitlines() if "ReadSchema" in ln)
