"""Shared fixtures: one Spark session per test run; reference-module loader."""

from __future__ import annotations

import importlib.util
import logging
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

REFERENCE_PIPELINE = "/root/reference/scripts/unified_ocr_pipeline.py"


@pytest.fixture(scope="session")
def reference_pipeline():
    """The actual reference implementation, imported read-only, used as a
    differential oracle for the field kernels (parity gate, not a copy)."""
    os.environ.setdefault("LOG_DIR", "/tmp/ref_logs")
    spec = importlib.util.spec_from_file_location("ref_uop", REFERENCE_PIPELINE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    logging.disable(logging.CRITICAL)  # silence the reference's chatty logger
    pipe = mod.UnifiedOCRPipeline()
    yield pipe
    logging.disable(logging.NOTSET)


@pytest.fixture(scope="session")
def spark():
    from unified_ocr_pipeline_spark.plans.session import get_spark

    # The session's default 24g driver heap can exceed the test host's RAM:
    # the JVM then grows past physical memory (the wide lang_lr model test
    # reaches ~14 GB resident) and is killed, failing every later Spark
    # test. Cap the heap at 2/3 of RAM unless SPARK_DRIVER_MEM is set.
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(2, min(24, ram_gb * 2 // 3))}g")
    spark = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield spark
    spark.stop()


def count_jobs(spark, fn):
    """Run ``fn()`` and return ``(result, number of Spark jobs it ran)``.

    Job ids are assigned sequentially per SparkContext, so the count is
    the id gap between two one-task marker jobs run before and after
    ``fn`` (found through ``sc.statusTracker()`` by their job group). It
    covers every job in between whatever thread submitted it — streaming
    micro-batches included — so nothing else may run jobs concurrently."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"

    def marker() -> int:
        sc.setJobGroup(group, "count_jobs marker")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return max(sc.statusTracker().getJobIdsForGroup(group))

    before = marker()
    result = fn()
    after = marker()
    return result, after - before - 1


def files_per_bucket(extracted_path):
    """``{bucket dir: number of .parquet files in it}`` over every epoch
    of an extracted table."""
    import glob

    return {
        d: len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(extracted_path, "epoch=*", "bucket=*"))
    }
