"""Plan red-flag audit over EVERY registered query at sf0.1.

For each queries() entry: count Exchanges, Python eval nodes (scalar vs
Arrow), cartesian products, whether parquet scans carry PushedFilters, and
flag BatchEvalPython (row-at-a-time) anywhere. Output: one line per query +
a flagged summary. Measurement-only (guide §7.2)."""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main():
    from dedup import queries as q
    from dedup.session import get_spark

    spark = get_spark("audit_plans")
    spark.sparkContext.setLogLevel("ERROR")
    from dedup.deploy import ensure_shipped

    ensure_shipped(spark)
    flags = []
    for name, fn in q.queries().items():
        try:
            df = fn(spark, SF)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as e:
            print(f"{name:36s} ERROR {e}")
            continue
        n_ex = len(re.findall(r"\bExchange\b", txt))
        n_arrow = len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow", txt))
        n_batch = len(re.findall(r"BatchEvalPython", txt))
        n_cart = len(re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", txt))
        n_smj = len(re.findall(r"SortMergeJoin", txt))
        n_bhj = len(re.findall(r"BroadcastHashJoin", txt))
        n_shj = len(re.findall(r"ShuffledHashJoin", txt))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", txt))
        scans = len(re.findall(r"Scan parquet", txt))
        line = (
            f"{name:36s} ex={n_ex:2d} arrow={n_arrow} batchpy={n_batch} "
            f"cart={n_cart} smj={n_smj} bhj={n_bhj} shj={n_shj} "
            f"scans={scans} pushed={pushed}"
        )
        print(line, flush=True)
        if n_batch:
            flags.append(f"{name}: {n_batch} BatchEvalPython (row-at-a-time)")
        if n_cart:
            flags.append(f"{name}: {n_cart} cartesian/BNLJ node(s)")
    print("\nFLAGS:")
    for f in flags or ["none"]:
        print(" ", f)
    spark.stop()


if __name__ == "__main__":
    main()
