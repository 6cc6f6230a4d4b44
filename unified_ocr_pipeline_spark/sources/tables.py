"""Input seam: catalog tables (Iceberg in production) vs parquet paths,
behind one spec string.

Spark's DSv2 API makes the input table format a SESSION CONFIG, not a
code path: when the production session configures an Iceberg catalog,
e.g. ::

    spark.sql.catalog.spark_catalog = org.apache.iceberg.spark.SparkSessionCatalog
    spark.sql.catalog.spark_catalog.type = hive   (or glue / rest / hadoop)

then ``spark.read.table(name)`` yields Iceberg scans (snapshot isolation,
hidden-partition pruning, metadata-only planning) with ZERO changes to
the code below. Without an Iceberg runtime jar on the classpath, the
tests exercise the same API against the built-in session catalog
(parquet provider); the branch taken is identical.

The output is not a table spec: ``ExtractionPipeline`` writes its own
partitioned parquet layout, ``extracted/epoch=E/bucket=B``
(plans/pipeline.py). Production Iceberg would declare hidden
partitioning ``bucket(N, url)``; the engine computes ``bucket``
explicitly (plans/pipeline.salted_bucket) because the salted-host
variant — pmod(xxhash64(host), ...) groups with per-host salt fan-out
for skew — is not expressible as a single Iceberg transform, and the
explicit column is also what the resume manifests key on.

Spec grammar (used by ExtractionPipeline.run and the example jobs):
  "table:<catalog.db.name>"  → catalog table via the DSv2 API
  anything else              → parquet path/glob
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_PREFIX = "table:"


def is_table_spec(spec: str) -> bool:
    return spec.startswith(TABLE_PREFIX)


def table_name(spec: str) -> str:
    return spec[len(TABLE_PREFIX):]


def read_input(spark: SparkSession, spec: str) -> DataFrame:
    """Read a pages input: ``table:<name>`` → ``spark.read.table`` (DSv2 —
    Iceberg when the session catalog is Iceberg), else a parquet
    path/glob. Both branches return a plain DataFrame; everything
    downstream (filter pushdown, column pruning, partition pruning) is
    the optimizer's job in either branch."""
    if is_table_spec(spec):
        return spark.read.table(table_name(spec))
    return spark.read.parquet(spec)
