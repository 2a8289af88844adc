"""SparkSession factory: the one way this package builds a session.

Keeps the reference's good config choices (AQE + coalesce + skew join, Arrow,
Kryo — the reference ETL's filter.py) and replaces its manual
`repartition(100/1000)` memory valves with explicit shuffle-partition sizing.
Arrow batch size is tuned down because image `bytes` rows are KBs each
(SURVEY.md §7 hard part (c)).

`get_spark` configures and returns the session and runs no job: first-use
costs (Python worker forks, codegen, reader init) land on the first real
query, where a timer around that query sees them. The caller that runs
pandas UDFs ships the package first (`Pipeline.run` calls
`deploy.ensure_shipped` before its first stage). With no `cores` argument
the session takes SPARK_GRAFT_CPUS, else the CPUs this process may run on.
On a process whose SparkContext is already live, only the `spark.sql.*`
options apply: the running context keeps its own master and parallelism."""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app: str = "dedup",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    # heap must scale with concurrent tasks: each scan task of a binary-heavy
    # table holds a columnar batch + decompression buffers (~100-200MB)
    default_mem = f"{max(8, (cores * 3) // 4)}g"
    conf = {
        "spark.app.name": app,
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores),
        # FAIR job scheduling: the pipeline submits independent tail stages
        # from driver threads (reps/simhash/substring overlap the LSH band
        # groups); FIFO would starve the later-submitted jobs of slots while
        # an earlier narrow stage holds the queue head
        "spark.scheduler.mode": "FAIR",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # InferFiltersFromGenerate turns explode(expensive_expr) into
        # Filter(size(expensive_expr) > 0) + Generate — the expression (an
        # Arrow UDF on the LSH/IVF/winnow paths, or the 32-band array expr)
        # is then evaluated TWICE per row after pushdown through the alias
        # projection. Semantically redundant for us (Generate already emits
        # nothing for empty/null arrays); measured plan-level double-eval
        # on q50/q33/q29 (see PLANS.md r04). ensure_shipped() applies the
        # same exclusion to externally-owned sessions at runtime.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        # 32MB scan partitions: the images table is binary-heavy (KB-scale
        # rows), and UDF decode stages need scan parallelism >> file count
        "spark.sql.files.maxPartitionBytes": "33554432",
        # 1024-row columnar batches: with KB-scale binary cells the default
        # 4096 makes each scan task's in-flight batch ~80MB -> heap OOM at
        # high task concurrency (measured at 1M rows x 32 tasks)
        "spark.sql.parquet.columnarReaderBatchSize": "1024",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", default_mem),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        **(extra or {}),
    }
    # a live SparkContext keeps its name, master, parallelism, heap and
    # scheduler: Spark would copy those options into the session's SQL conf,
    # where they would disagree with the context that actually runs. Only
    # the SQL options apply to it.
    if SparkContext._active_spark_context is not None:
        conf = {k: v for k, v in conf.items() if k.startswith("spark.sql.")}
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
