"""P8 — driver-side preflight / health check (SURVEY.md §2 P8).

Reference analog: ``health_check`` + the hard backend gate in
``process_pdf`` (/root/reference/scripts/unified_ocr_pipeline.py:63-81,
85-86): before any work is submitted, validate that (a) a parse backend
exists, (b) the kernel modules import and their regexes compiled, (c) the
declared dependencies are present, and (d) the input table has the schema
the extraction stage expects. On a misconfigured cluster this turns a
mid-job executor stack trace into one clear driver-side JSON report.

The check is cheap by design — imports plus one parquet footer read — so
``ExtractionPipeline.run`` can afford it on every invocation (including
per micro-batch in streaming). The pipeline passes the input DataFrame it
is about to scan (``input_df``), so even the footer read is shared with
the job rather than repeated.
"""

from __future__ import annotations

from typing import Any, Dict, Optional

from pyspark.sql import DataFrame, SparkSession

_KERNEL_MODULES = (
    "unified_ocr_pipeline_spark.kernels.sniff",
    "unified_ocr_pipeline_spark.kernels.pdf_layout",
    "unified_ocr_pipeline_spark.kernels.html_extract",
    "unified_ocr_pipeline_spark.kernels.fields",
    "unified_ocr_pipeline_spark.kernels.quality",
    "unified_ocr_pipeline_spark.kernels.document",
)

_DEPENDENCIES = ("pandas", "pyarrow", "numpy")


def health_check(
    spark: Optional[SparkSession] = None,
    input_path: Optional[str] = None,
    input_df: Optional[DataFrame] = None,
) -> Dict[str, Any]:
    """Return the health report. ``status`` is 'healthy' only if a parse
    backend is available, every kernel module imports, every dependency is
    present, and (when an input is given) the input schema carries all
    required columns at the expected types. ``input_df``, when given, is
    the input already read — ``input_path`` read, or a DataFrame with no
    path at all (a micro-batch): its schema is checked instead of reading
    the input again."""
    import importlib

    report: Dict[str, Any] = {
        "pdf_backends": [],
        "kernels": {},
        "dependencies": {},
        "input": None,
        "problems": [],
    }

    try:
        from ..kernels import pdf_layout

        report["pdf_backends"] = pdf_layout.probe_backends()
    except Exception as exc:  # noqa: BLE001
        report["problems"].append(f"pdf backend probe failed: {exc}")
    if not report["pdf_backends"]:
        report["problems"].append("no PDF parse backend available")

    for mod in _KERNEL_MODULES:
        try:
            importlib.import_module(mod)
            report["kernels"][mod.rsplit(".", 1)[1]] = "available"
        except Exception as exc:  # noqa: BLE001
            report["kernels"][mod.rsplit(".", 1)[1]] = "missing"
            report["problems"].append(f"kernel import failed: {mod}: {exc}")

    for dep in _DEPENDENCIES:
        try:
            importlib.import_module(dep)
            report["dependencies"][dep] = "available"
        except ImportError:
            report["dependencies"][dep] = "missing"
            report["problems"].append(f"dependency missing: {dep}")

    if input_df is not None or input_path is not None:
        inp: Dict[str, Any] = {"path": input_path, "columns": {}}
        try:
            # schema-only read: parquet footer / catalog metadata,
            # no data scan (table: specs resolve via sources/tables).
            # The input contract is imported here, not at module level:
            # plans/extraction imports pandas and every kernel module, and
            # a failure there belongs in this report, not in the import of
            # preflight.
            from ..sources.tables import read_input
            from .extraction import PAGES_SCHEMA

            if input_df is None:
                if spark is None:
                    raise ValueError("no SparkSession to read it with")
                input_df = read_input(spark, input_path)
            have = {f.name: f.dataType.simpleString() for f in input_df.schema.fields}
            for field in PAGES_SCHEMA.fields:
                col, want = field.name, field.dataType.simpleString()
                got = have.get(col)
                # timestamp_ntz is an acceptable carrier for warc_ts
                ok = got == want or (want == "timestamp" and got == "timestamp_ntz")
                inp["columns"][col] = got or "MISSING"
                if not ok:
                    report["problems"].append(
                        f"input column {col}: expected {want}, got {got}"
                    )
        except Exception as exc:  # noqa: BLE001
            report["problems"].append(f"input unreadable: {input_path}: {exc}")
        report["input"] = inp

    report["status"] = "healthy" if not report["problems"] else "unhealthy"
    return report


class PreflightError(RuntimeError):
    """Raised by the pipeline when the preflight report is unhealthy."""

    def __init__(self, report: Dict[str, Any]) -> None:
        self.report = report
        super().__init__(
            "preflight failed: " + "; ".join(report.get("problems", []))
        )


def require_healthy(
    spark: Optional[SparkSession] = None,
    input_path: Optional[str] = None,
    input_df: Optional[DataFrame] = None,
) -> Dict[str, Any]:
    """health_check that raises :class:`PreflightError` when unhealthy —
    the reference's ``raise Exception("No PDF processing backend
    available")`` gate (:85-86), generalized."""
    report = health_check(spark, input_path, input_df)
    if report["status"] != "healthy":
        raise PreflightError(report)
    return report
