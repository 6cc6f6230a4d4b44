"""Input seam (sources/tables.py): `table:<name>` specs resolve through
the DSv2 catalog — the SAME code path that yields Iceberg scans when a
production session configures an Iceberg catalog (without an Iceberg jar
the session catalog's parquet provider stands in; the branch taken is
identical)."""

from __future__ import annotations

from pyspark.sql import functions as F

from unified_ocr_pipeline_spark.sources.tables import (
    is_table_spec,
    read_input,
)


def test_spec_grammar():
    assert is_table_spec("table:db.pages")
    assert not is_table_spec("/tmp/pages")
    assert not is_table_spec("s3://bucket/pages/*.parquet")


def test_read_input_table_vs_path(spark, tmp_path):
    p = str(tmp_path / "pages")
    df = spark.range(10).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url")
    )
    df.write.parquet(p)
    spark.sql("DROP TABLE IF EXISTS pages_seam_t")
    spark.sql(f"CREATE TABLE pages_seam_t USING parquet AS SELECT * FROM parquet.`{p}`")
    try:
        via_path = read_input(spark, p)
        via_table = read_input(spark, "table:pages_seam_t")
        assert sorted(r["url"] for r in via_path.collect()) == sorted(
            r["url"] for r in via_table.collect()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_seam_t")


def test_pipeline_runs_from_catalog_table(spark, tmp_path):
    from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline
    from unified_ocr_pipeline_spark.sources.fixtures import write_pages_parquet

    pages = str(tmp_path / "pages")
    write_pages_parquet(pages, 200, seed=7)
    spark.sql("DROP TABLE IF EXISTS pages_pipe_t")
    spark.sql(
        f"CREATE TABLE pages_pipe_t USING parquet AS SELECT * FROM parquet.`{pages}`"
    )
    try:
        out_a = str(tmp_path / "out_path")
        out_b = str(tmp_path / "out_table")
        ra = ExtractionPipeline(spark, out_a, num_buckets=8).run(
            pages
        )
        rb = ExtractionPipeline(spark, out_b, num_buckets=8).run(
            "table:pages_pipe_t"
        )
        assert ra.rows_written == rb.rows_written > 0
        ta = spark.read.parquet(f"{out_a}/extracted").select(
            "url", "extracted_text"
        )
        tb = spark.read.parquet(f"{out_b}/extracted").select(
            "url", "extracted_text"
        )
        assert ta.subtract(tb).count() == 0 and tb.subtract(ta).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_pipe_t")
