"""Planted-skew evidence for salted_bucket (SURVEY §7.4 risk 4).

A Common-Crawl shard routinely has one host holding a double-digit share
of pages; host-keyed bucketing puts that whole host through one reducer.
salted_bucket spreads each host over ``salt_factor`` consecutive buckets
keyed by url-hash. These tests plant a 30%-share host and measure the
post-exchange bucket-size distribution with and without the salt — the
max-bucket share must drop by at least salt_factor/2 ×, and the hot host
must actually occupy salt_factor distinct buckets.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from unified_ocr_pipeline_spark.plans.pipeline import salted_bucket, with_host

N_DOCS = 4000
HOT_SHARE = 0.30
NUM_BUCKETS = 64
SALT = 8


def _skewed_pages(spark):
    # ~30% of urls on one hot host, the rest spread over 200 cold hosts
    hot = int(N_DOCS * HOT_SHARE)
    return spark.range(N_DOCS).select(
        F.when(
            F.col("id") < hot,
            F.concat(F.lit("https://hot.example.com/p/"), F.col("id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("https://cold-"),
                (F.col("id") % 200).cast("string"),
                F.lit(".example.org/p/"),
                F.col("id").cast("string"),
            )
        )
        .alias("url")
    )


def _max_bucket_share(df) -> float:
    sizes = [r["n"] for r in df.groupBy("bucket").agg(F.count("*").alias("n")).collect()]
    return max(sizes) / sum(sizes)


def test_salt_spreads_planted_hot_host(spark):
    pages = with_host(_skewed_pages(spark))
    unsalted = _max_bucket_share(salted_bucket(pages, NUM_BUCKETS, 1))
    salted = _max_bucket_share(salted_bucket(pages, NUM_BUCKETS, SALT))
    # the hot host dominates its unsalted bucket (~30% of all rows)
    assert unsalted >= HOT_SHARE * 0.95, unsalted
    # the salt must buy at least salt_factor/2 × on the max bucket
    assert unsalted / salted >= SALT / 2, (unsalted, salted)


def test_hot_host_occupies_salt_factor_buckets(spark):
    pages = with_host(_skewed_pages(spark))
    hot_buckets = (
        salted_bucket(pages, NUM_BUCKETS, SALT)
        .where(F.col("host") == "hot.example.com")
        .select("bucket")
        .distinct()
        .count()
    )
    assert hot_buckets == SALT
    # and those buckets are near-evenly loaded: max/min ≤ 1.5 on 1200 rows
    sizes = [
        r["n"]
        for r in salted_bucket(pages, NUM_BUCKETS, SALT)
        .where(F.col("host") == "hot.example.com")
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert max(sizes) / min(sizes) <= 1.5, sizes


def test_bad_num_buckets_rejected_at_construction(spark, tmp_path):
    """The salt is min(8, N), so an explicit N must split into whole host
    groups: below 8 or a multiple of 8. Anything else fails when the
    pipeline is built, before any Spark job, not inside run()."""
    import pytest
    from conftest import count_jobs

    from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline

    out = str(tmp_path / "out")
    for bad in (12, 9, 0, -8):
        def build():
            with pytest.raises(ValueError, match="below 8 or a multiple of 8"):
                ExtractionPipeline(spark, out, num_buckets=bad)

        assert count_jobs(spark, build)[1] == 0, bad
    for good in (None, 1, 7, 8, 16, 64):
        assert ExtractionPipeline(spark, out, num_buckets=good).num_buckets == good
