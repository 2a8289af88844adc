"""Capture .explain("formatted") for the round-6-touched queries/operators.

Usage: python tools/capture_plans_r06.py <outdir> <suffix>
Writes <outdir>/<name>_<suffix>.txt. Run once from the round-start checkout
(suffix=before) and once from the optimized tree (suffix=after).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.1"


def main():
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)

    from dedup import lsh, queries as q, verify
    from dedup.config import DEFAULT as CFG
    from dedup.session import get_spark

    spark = get_spark("plans_r06")
    spark.sparkContext.setLogLevel("ERROR")
    from dedup.deploy import ensure_shipped

    ensure_shipped(spark)

    def dump(name, df):
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print("wrote", name, flush=True)

    for name in ("q26_minhash_candidates", "q29_winnow_substring_pass",
                 "q55_ngram_decontamination", "q27_minhash_verified_pairs",
                 "q43_batch_ann_topk", "q50_ann_ivf_topk"):
        try:
            dump(name, q.REGISTRY[name][0](spark, SF))
        except Exception as e:
            print(f"skip {name}: {e}", flush=True)

    # pipeline-internal operator shapes on the bench warehouse's committed
    # stages (run the bench first so /tmp/bench_wh_32 exists)
    wh = "/tmp/bench_wh_32"
    if os.path.exists(f"{wh}/signatures"):
        sigs = spark.read.parquet(f"{wh}/signatures")
        try:
            import inspect

            kw = {}
            if "persist" in inspect.signature(lsh.minhash_scored_band).parameters:
                kw["persist"] = False
            pairs, _, h = lsh.minhash_scored_band(
                sigs, "rep_id", CFG, 0, 31, sample_mod=8, **kw
            )
            dump("pipeline_scored_minhash", pairs)
            h.unpersist()
        except Exception as e:
            print("skip scored:", e)
        try:
            import inspect

            kw = {}
            sig = inspect.signature(verify.substring_edges).parameters
            if "max_container_len" in sig:
                kw["max_container_len"] = 82
            if "approx_rows" in sig:
                kw["approx_rows"] = 8658
            dump(
                "pipeline_substring_edges",
                verify.substring_edges(
                    sigs.select("rep_id", "caption"), "rep_id", "caption", CFG, **kw
                ),
            )
        except Exception as e:
            print("skip substring:", e)
    if os.path.exists(f"{wh}/keys"):
        keys = spark.read.parquet(f"{wh}/keys")
        try:
            from dedup.pipeline import exact_member_edges

            dump("pipeline_reps_edges", exact_member_edges(keys, corpus_rows=60000))
        except Exception as e:
            print("skip reps:", e)
    spark.stop()


if __name__ == "__main__":
    main()
