"""spark-submit entry for the dedup pipeline (SURVEY.md §3.4).

Production launch:

    spark-submit --py-files dedup_pkg.zip jobs/dedupe.py \
        --input warehouse/images --warehouse warehouse/dedup_run \
        [--cores N] [--run-id RUN]

On a real multi-executor cluster drop --cores and submit with --master; in
this sandbox --cores N selects local[N]. The job is resumable: re-running
with the same --warehouse and config skips completed stages (manifest with
the current format and config hash) and finishes from the first incomplete
stage; a warehouse an earlier engine format wrote recomputes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path of the images table")
    ap.add_argument("--warehouse", required=True, help="output warehouse directory")
    ap.add_argument("--cores", type=int, default=None, help="local[N] cores (sandbox)")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--band-groups", default="auto",
                    help="LSH bands per commit group: an int or 'auto' "
                         "(granularity sized to the signature-table rows)")
    ap.add_argument("--synth-rows", type=int, default=0,
                    help="if >0 and --input missing, generate synthetic input first")
    args = ap.parse_args()

    from dedup.pipeline import Pipeline
    from dedup.session import get_spark

    if args.synth_rows and not os.path.exists(args.input):
        from dedup import synth

        synth.write_parquet(args.input, args.synth_rows, seed=42)

    spark = get_spark("dedupe", cores=args.cores)
    try:
        images = spark.read.parquet(args.input)
        t0 = time.time()
        bg = args.band_groups if args.band_groups == "auto" else int(args.band_groups)
        assignments = Pipeline(args.warehouse, run_id=args.run_id, band_groups=bg).run(
            spark, images
        )
        n = assignments.count()
        wall = time.time() - t0
        n_clusters = assignments.select("cluster_id").distinct().count()
        print(json.dumps({
            "assignments": n,
            "clusters": n_clusters,
            "wall_sec": round(wall, 2),
            "images_per_sec": round(n / wall, 1),
            "warehouse": args.warehouse,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
