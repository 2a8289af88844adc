"""get_spark: a session is configured and handed back with no Spark job run,
and the core count defaults to the CPUs this process may run on."""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from dedup.session import get_spark


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_get_spark_runs_no_job(spark):
    """No setup work hides in get_spark: a bench-shaped call (8 cores)
    returns the live session without launching a job. conftest's partition
    count keeps the shared session's shuffle conf as it is."""
    spark.range(1).count()  # the tracker sees jobs at all
    before = _last_job_id(spark)
    assert before >= 0
    assert get_spark("tests", cores=8, shuffle_partitions=8) is spark
    assert _last_job_id(spark) == before


def test_get_spark_default_cores(spark, monkeypatch):
    """No `cores` argument: SPARK_GRAFT_CPUS if set, else the process's CPU
    affinity — never a fixed count larger than the host."""
    seen = {}

    def capture(builder):
        seen.clear()
        seen.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    # a fresh process: no context is live yet, so every option is passed
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    get_spark("tests")
    assert seen["spark.master"] == "local[3]"
    assert seen["spark.default.parallelism"] == "3"
    assert seen["spark.sql.shuffle.partitions"] == "8"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    get_spark("tests")
    assert seen["spark.master"] == "local[5]"


def test_get_spark_on_live_context_keeps_its_conf(spark):
    """Asked for other cores than the live context runs, get_spark applies
    only the SQL options: spark.conf still reports the context's own master
    and parallelism, not the asked-for ones."""
    sc = spark.sparkContext
    assert get_spark("other", cores=3, shuffle_partitions=8) is spark
    assert spark.conf.get("spark.master") == sc.master
    assert spark.conf.get("spark.default.parallelism") == str(sc.defaultParallelism)
    assert spark.conf.get("spark.app.name") == sc.appName
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
