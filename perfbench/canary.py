"""Host canaries: fixed work that no engine change can move, timed
before and after each workload, so a moved metric can be told apart
from a slower host.  Each is timed once, after one untimed run."""

from __future__ import annotations

import os
import shutil
import time


def _warm_time(fn) -> float:
    fn()
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def cpu_s(spark) -> float:
    """Integer and floating-point aggregate over an in-memory range."""
    from pyspark.sql import functions as F

    return _warm_time(
        lambda: spark.range(0, 2_000_000, 1, 4)
        .select(F.sum(F.col("id") % 97), F.sum(F.sqrt(F.col("id").cast("double"))))
        .collect()
    )


def io_s(spark, scratch: str) -> float:
    """Parquet write and read-back of 50k rows under ``scratch``."""
    from pyspark.sql import functions as F

    path = os.path.join(scratch, "io_canary")

    def run():
        spark.range(0, 50_000, 1, 4).select(
            "id", F.sha1(F.col("id").cast("string")).alias("s")
        ).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).agg(F.count("*")).collect()

    try:
        return _warm_time(run)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _double(batches):
    for pdf in batches:
        yield pdf * 2


def pyworker_s(spark) -> float:
    """One Arrow ``mapInPandas`` round trip through a Python worker."""
    return _warm_time(
        lambda: spark.range(0, 10_000, 1, 1).mapInPandas(_double, "id long").collect()
    )


def sample(spark, scratch: str) -> dict:
    return {
        "cpu_s": round(cpu_s(spark), 4),
        "io_s": round(io_s(spark, scratch), 4),
        "pyworker_s": round(pyworker_s(spark), 4),
    }
