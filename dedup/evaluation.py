"""Golden-case evaluation: accuracy / precision / recall / F1 + confusion
matrix + threshold sweep.

Reference semantics: checks.yml evaluation
(/root/reference/eridu/etl/checks_evaluation.py:71-177 — per-case
predicted-vs-label, metric rollup) and PR-curve threshold selection
(/root/reference/eridu/etl/evaluate.py:158-217,
/root/reference/eridu/train/fine_tune_sbert.py:605-613 — best threshold =
argmax F1). All relational, no UDFs: conditional aggregation (A9) + a
thresholds-DataFrame join (W4 'argmax over a curve' as orderBy+limit)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def confusion_metrics(
    scored: DataFrame, label_col: str = "label", pred_col: str = "predicted_match"
) -> DataFrame:
    """One row: tp/fp/tn/fn + accuracy/precision/recall/f1 (4dp)."""
    lab = F.col(label_col).cast("boolean")
    pred = F.col(pred_col).cast("boolean")
    agg = scored.agg(
        F.sum(F.when(lab & pred, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~lab & pred, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~lab & ~pred, 1).otherwise(0)).alias("tn"),
        F.sum(F.when(lab & ~pred, 1).otherwise(0)).alias("fn"),
    )
    tp, fp, tn, fn = F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn")
    prec = tp / F.greatest(tp + fp, F.lit(1))
    rec = tp / F.greatest(tp + fn, F.lit(1))
    return agg.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.round((tp + tn) / F.greatest(tp + fp + tn + fn, F.lit(1)), 4).alias("accuracy"),
        F.round(prec, 4).alias("precision"),
        F.round(rec, 4).alias("recall"),
        F.round(2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 4).alias("f1"),
    )


def best_threshold(
    scored: DataFrame, score_col: str = "score", label_col: str = "label", steps: int = 101
) -> DataFrame:
    """Sweep `steps` thresholds in [0,1]; return the argmax-F1 row
    (threshold, f1, precision, recall). Cross join against a generated
    thresholds table — one shuffle-free pass over the scores per Catalyst."""
    spark = scored.sparkSession
    ths = spark.range(steps).select((F.col("id") / (steps - 1)).alias("threshold"))
    lab = F.col(label_col).cast("boolean")
    pred = F.col(score_col) >= F.col("threshold")
    sweep = (
        scored.crossJoin(F.broadcast(ths))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(lab & pred, 1).otherwise(0)).alias("tp"),
            F.sum(F.when(~lab & pred, 1).otherwise(0)).alias("fp"),
            F.sum(F.when(lab & ~pred, 1).otherwise(0)).alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = tp / F.greatest(tp + fp, F.lit(1))
    rec = tp / F.greatest(tp + fn, F.lit(1))
    return (
        sweep.select(
            F.round("threshold", 4).alias("threshold"),
            F.round(2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 4).alias("f1"),
            F.round(prec, 4).alias("precision"),
            F.round(rec, 4).alias("recall"),
        )
        .orderBy(F.desc("f1"), F.asc("threshold"))
        .limit(1)
    )


def auc_roc(
    scored: DataFrame, score_col: str = "score", label_col: str = "label"
) -> DataFrame:
    """One row (auc, n_pos, n_neg): area under the ROC curve, Mann-Whitney
    rank-sum form with exact tie handling — identical to trapezoidal
    roc_auc_score (the reference's metric,
    /root/reference/eridu/etl/evaluate.py:209, SURVEY.md §5 'threshold sweep
    + AUC-ROC'):

        AUC = sum over distinct scores s of n_pos(s) * (N_below(s) + n_neg(s)/2)
              / (n_pos * n_neg)

    i.e. every (pos, neg) pair contributes 1 if pos scores higher, 1/2 on a
    tie. Scale shape: the input reduces by ONE groupBy on the score value
    before any ordering, so the unpartitioned running-total window runs over
    DISTINCT scores only — similarity scores are quantized in practice
    (round before calling at extreme cardinalities), so the windowed table
    is tiny regardless of corpus size; the big table is touched exactly once
    by a partial-aggregating groupBy. NULL AUC when either class is absent."""
    from pyspark.sql import Window

    lab = F.col(label_col).cast("boolean")
    g = scored.groupBy(F.col(score_col).alias("s")).agg(
        F.sum(F.when(lab, 1).otherwise(0)).alias("np_s"),
        F.sum(F.when(~lab, 1).otherwise(0)).alias("nn_s"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = g.withColumn("cum_nn", F.coalesce(F.sum("nn_s").over(w), F.lit(0)))
    return c.agg(
        F.round(
            F.try_divide(  # single-class input -> NULL, not an ANSI error
                F.sum(F.col("np_s") * (F.col("cum_nn") + F.col("nn_s") / F.lit(2.0))),
                F.sum("np_s") * F.sum("nn_s"),
            ),
            6,
        ).alias("auc"),
        F.sum("np_s").cast("bigint").alias("n_pos"),
        F.sum("nn_s").cast("bigint").alias("n_neg"),
    )


def eval_results(
    scored: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
    label_col: str = "label",
    steps: int = 101,
) -> DataFrame:
    """Per-row evaluation-results table — the reference's
    test_results.parquet shape (id_a, id_b, similarity, true_label,
    best_threshold, predicted_match, correct_prediction)
    (/root/reference/eridu/train/fine_tune_sbert.py:596-633, data model
    §1.1(d)): the argmax-F1 threshold is computed once (best_threshold) and
    broadcast onto every scored pair, so the table a user inspects/exports
    carries the decision AND whether it was right."""
    bt = best_threshold(scored, score_col, label_col, steps).select("threshold")
    return (
        scored.crossJoin(F.broadcast(bt))
        .select(
            F.col(id_a).alias("id_a"),
            F.col(id_b).alias("id_b"),
            F.col(score_col).alias("similarity"),
            F.col(label_col).cast("boolean").alias("true_label"),
            F.col("threshold").alias("best_threshold"),
            (F.col(score_col) >= F.col("threshold")).alias("predicted_match"),
        )
        .withColumn("correct_prediction", F.col("predicted_match") == F.col("true_label"))
    )


# --------------------------------------------------- error-category analysis
# Reference semantics: evaluation exports categorized FP/FN tables and a
# per-category prominence report
# (/root/reference/eridu/etl/error_category_analysis.py:9-54,95-106;
# /root/reference/eridu/etl/checks_evaluation.py:277-334). The category
# definitions below are the reference report's own interpretations
# (error_category_analysis.py:95-106): Spacing Difference = same characters
# different spacing; Initial vs Full Name = initials vs spelled-out;
# Company Type Mismatch = same basename, different corporate suffix;
# Title/Prefix Variation = equal after stripping a leading title;
# Subset/Superset = one name contains the other; Other = no pattern.
#
# The expression is generated per SQL dialect from ONE fragment table so the
# Spark operator and the DuckDB oracle twin cannot drift.

_CATEGORY_TITLES = ("mr", "mr.", "mrs", "mrs.", "dr", "dr.", "prof", "prof.", "sir", "ms", "ms.")


def _dialect(d: str) -> dict:
    from . import signatures

    stop = ", ".join(f"'{w}'" for w in sorted(signatures.STOPWORDS))
    suf = ", ".join(f"'{w}'" for w in sorted(signatures.CORP_SUFFIXES))
    titles = ", ".join(f"'{w}'" for w in _CATEGORY_TITLES)
    if d == "spark":
        return dict(
            arr=lambda items: f"array({items})",
            split=lambda x: f"split(lower({x}), ' ')",
            last=lambda t: f"element_at({t}, -1)",
            first=lambda t: f"element_at({t}, 1)",
            drop_last=lambda t: f"array_join(slice({t}, 1, size({t}) - 1), ' ')",
            drop_first=lambda t: f"array_join(slice({t}, 2, size({t}) - 1), ' ')",
            filt=lambda t, lam: f"filter({t}, {lam})",
            trans=lambda t, lam: f"transform({t}, {lam})",
            contains=lambda a, w: f"array_contains({a}, {w})",
            joinl=lambda t, sep: f"array_join({t}, '{sep}')",
            instr=lambda a, b: f"instr({a}, {b})",
            stop=stop, suf=suf, titles=titles,
        )
    return dict(
        arr=lambda items: f"[{items}]",
        split=lambda x: f"string_split(lower({x}), ' ')",
        last=lambda t: f"({t})[-1]",
        first=lambda t: f"({t})[1]",
        drop_last=lambda t: f"array_to_string(list_slice({t}, 1, len({t}) - 1), ' ')",
        drop_first=lambda t: f"array_to_string(list_slice({t}, 2, len({t})), ' ')",
        filt=lambda t, lam: f"list_filter({t}, {lam})",
        trans=lambda t, lam: f"list_transform({t}, {lam})",
        contains=lambda a, w: f"list_contains({a}, {w})",
        joinl=lambda t, sep: f"array_to_string({t}, '{sep}')",
        instr=lambda a, b: f"strpos({a}, {b})",
        stop=stop, suf=suf, titles=titles,
    )


def meaningful_tokens_expr(x: str, dialect: str = "spark") -> str:
    """Stopword-filtered multi-char tokens of lower(x) — the shared filter of
    signatures.initials_of / the reference's acronyms.py:52-55."""
    f = _dialect(dialect)
    return f["filt"](
        f["split"](x),
        f"w -> length(w) > 1 AND NOT {f['contains'](f['arr'](f['stop']), 'w')}",
    )


def error_category_expr(a: str, b: str, dialect: str = "spark") -> str:
    """SQL CASE expression assigning an error_category to a name pair."""
    f = _dialect(dialect)

    def nospace(x):
        return f"replace(lower({x}), ' ', '')"

    def condensed(x):
        return f"upper(replace(replace(lower({x}), '.', ''), ' ', ''))"

    def initials(x):
        mw = meaningful_tokens_expr(x, dialect)
        return f"upper({f['joinl'](f['trans'](mw, 'w -> substring(w, 1, 1)'), '')})"

    def basename(x):
        t = f["split"](x)
        return (
            f"CASE WHEN {f['contains'](f['arr'](f['suf']), f['last'](t))} "
            f"THEN {f['drop_last'](t)} ELSE lower({x}) END"
        )

    def strip_title(x):
        t = f["split"](x)
        return (
            f"CASE WHEN {f['contains'](f['arr'](f['titles']), f['first'](t))} "
            f"THEN {f['drop_first'](t)} ELSE lower({x}) END"
        )

    neq = f"lower({a}) <> lower({b})"
    return f"""CASE
      WHEN {nospace(a)} = {nospace(b)} AND {neq} THEN 'Spacing Difference'
      WHEN {condensed(a)} = {initials(b)} OR {condensed(b)} = {initials(a)} THEN 'Initial vs Full Name'
      WHEN {basename(a)} = {basename(b)} AND {neq} THEN 'Company Type Mismatch'
      WHEN ({strip_title(a)} = lower({b}) OR {strip_title(b)} = lower({a})) AND {neq} THEN 'Title/Prefix Variation'
      WHEN {neq} AND ({f['instr'](f'lower({a})', f'lower({b})')} > 0 OR {f['instr'](f'lower({b})', f'lower({a})')} > 0) THEN 'Subset/Superset'
      ELSE 'Other' END"""


def categorize_errors(
    errors: DataFrame, name_a: str = "name_a", name_b: str = "name_b"
) -> DataFrame:
    """Add `error_category` to an FP/FN errors table — pure Catalyst CASE
    expression (whole-stage codegen, no UDF), so it runs at scan speed on
    any corpus size."""
    return errors.withColumn("error_category", F.expr(error_category_expr(name_a, name_b)))


def error_category_rollup(errors: DataFrame, score_col: str = "score") -> DataFrame:
    """Per-(category, error_type) prominence rollup: count + score stats
    (reference error_category_analysis.py:33-41 score_stats_by_category)."""
    s = F.col(score_col)
    return errors.groupBy("error_category", "error_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(s), 4).alias("mean_score"),
        F.round(F.min(s), 4).alias("min_score"),
        F.round(F.max(s), 4).alias("max_score"),
    )


def load_checks_yaml(spark, path: str, schemas: list[str] | None = None):
    """S6 YAML golden-checks source (reference checks_evaluation.py:23-69):
    a `{checks: [{match, schema, label, query: {name}, candidate: {name}}]}`
    document -> DataFrame(query_id, candidate_id, match, schema, label).
    `schemas` filters like the reference's filter_checks_by_schema. Gated
    behind an import-try per the sandbox rules (pyyaml IS present here)."""
    try:
        import yaml
    except ImportError as e:  # pragma: no cover - yaml is in this sandbox
        raise NotImplementedError(
            "load_checks_yaml needs pyyaml; install it or build the checks "
            "DataFrame directly with spark.createDataFrame"
        ) from e
    with open(path, encoding="utf-8") as f:
        checks = (yaml.safe_load(f) or {}).get("checks", [])
    if schemas is not None:
        checks = [c for c in checks if c.get("schema") in schemas]
    rows = [
        (
            (c.get("query") or {}).get("name", ""),
            (c.get("candidate") or {}).get("name", ""),
            bool(c.get("match")),
            c.get("schema", ""),
            str(c.get("label", "")),
        )
        for c in checks
    ]
    return spark.createDataFrame(
        rows, "query_id string, candidate_id string, match boolean, schema string, label string"
    )


def evaluate_checks(
    checks: DataFrame, pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Golden checks (query_id, candidate_id, match:boolean) against the
    engine's verified pairs table: predicted = pair present. Left join +
    confusion rollup (reference checks_evaluation.py:129-177)."""
    norm = pairs.select(
        F.least(id_a, id_b).alias("qa"), F.greatest(id_a, id_b).alias("qb")
    ).distinct().withColumn("predicted_match", F.lit(True))
    joined = (
        checks.select(
            F.least("query_id", "candidate_id").alias("qa"),
            F.greatest("query_id", "candidate_id").alias("qb"),
            F.col("match").alias("label"),
        )
        .join(norm, ["qa", "qb"], "left")
        .na.fill({"predicted_match": False})
    )
    return confusion_metrics(joined)
