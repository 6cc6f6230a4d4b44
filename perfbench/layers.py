"""Per-layer probes: each times one engine module from outside, through its
public functions, and returns plain numbers."""

from __future__ import annotations

import glob
import os
import random
import statistics
import time
from typing import Dict, List, Tuple

import pyarrow.parquet as pq

from unified_ocr_pipeline_spark.kernels import document, fields, html_extract, pdf_layout, sniff
from unified_ocr_pipeline_spark.plans import extraction
from unified_ocr_pipeline_spark.sources import tables


class TimedPipeline:
    """Stands in for an ExtractionPipeline (as ``run_available_now``'s
    ``pipeline`` argument) and records the wall time and result of every
    ``run`` call; everything else is delegated."""

    def __init__(self, pipeline) -> None:
        self._pipeline = pipeline
        self.calls: List[Tuple[int, float, object]] = []

    def run(self, *args, **kwargs):
        t0 = time.perf_counter()
        result = self._pipeline.run(*args, **kwargs)
        self.calls.append((kwargs.get("epoch", 0), time.perf_counter() - t0, result))
        return result

    def __getattr__(self, name):
        return getattr(self._pipeline, name)


def _noop_write(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def scan_s(spark, path: str, max_bytes: int) -> float:
    """Seconds to scan the input and apply the oversize gate, into a noop sink."""
    return _noop_write(extraction.gate_oversize(tables.read_input(spark, path), max_bytes))


def stage_s(spark, path: str, max_bytes: int) -> float:
    """Seconds of the extraction stage alone (scan, gate, Arrow-batched
    kernels) into a noop sink."""
    from pyspark.sql import functions as F

    df = extraction.gate_oversize(tables.read_input(spark, path), max_bytes)
    df = df.withColumn("partition_id", F.spark_partition_id())
    return _noop_write(extraction.extract_stage(df, max_bytes=max_bytes))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def parquet_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def kernel_busy_s(out_dir: str, epoch: int) -> float:
    """Kernel seconds the pipeline itself recorded for one epoch: the sum
    of ``stage_proc_us`` in its metrics table."""
    t = pq.read_table(os.path.join(out_dir, "metrics"), columns=["epoch", "stage_proc_us"])
    epochs = t.column("epoch").to_pylist()
    procs = t.column("stage_proc_us").to_pylist()
    return sum(p or 0 for e, p in zip(epochs, procs) if e == epoch) / 1e6


def bucket_skew(out_dir: str) -> float:
    """max / mean of the manifest row counts over every (epoch, bucket)."""
    counts = pq.read_table(os.path.join(out_dir, "manifests"), columns=["row_count"])
    counts = counts.column("row_count").to_pylist()
    return max(counts) / statistics.fmean(counts)


def sample_docs(path: str, n: int, seed: int, max_bytes: int) -> List[Tuple]:
    """A seeded sample of up to ``n`` (url, html, text) rows that are not
    over the size cap."""
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        t = pq.read_table(f, columns=["url", "html", "text"])
        rows.extend(
            r
            for r in zip(*(t.column(c).to_pylist() for c in ("url", "html", "text")))
            if r[1] is None or len(r[1]) <= max_bytes
        )
    rng = random.Random(seed)
    return rng.sample(rows, min(n, len(rows)))


def kernel_metrics(docs: List[Tuple], max_bytes: int) -> Dict[str, float]:
    """Single-threaded, in-process kernel costs over ``docs``.

    A first pass wraps the per-call kernels (sniff, PDF layout parse, HTML
    main-text extraction, field cascades) in timing accumulators; a second,
    unwrapped pass times whole documents by content type."""
    acc = {k: [0, 0] for k in ("sniff", "pdf_layout", "html_extract", "fields")}
    lenient = [0]
    targets = [
        (sniff, "sniff_content_type", "sniff"),
        (pdf_layout, "parse_with_backend", "pdf_layout"),
        (html_extract, "extract_main_text", "html_extract"),
        (fields, "find_po_number", "fields"),
        (fields, "fallback_regex_extraction", "fields"),
    ]

    def timed(fn, key):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter_ns()
            out = fn(*args, **kwargs)
            acc[key][0] += time.perf_counter_ns() - t0
            acc[key][1] += 1
            if key == "pdf_layout" and out[2] != "syn-strict":
                lenient[0] += 1
            return out

        return wrapper

    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for mod, attr, key in targets:
            setattr(mod, attr, timed(getattr(mod, attr), key))
        for url, html, text in docs:
            document.process_document(url, html, text, max_bytes=max_bytes)
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)

    per_type: Dict[str, List[float]] = {"pdf": [], "html": [], "text": []}
    total = 0.0
    for url, html, text in docs:
        t0 = time.perf_counter_ns()
        r = document.process_document(url, html, text, max_bytes=max_bytes)
        us = (time.perf_counter_ns() - t0) / 1e3
        total += us
        per_type.setdefault(r.content_type, []).append(us)

    def mean(xs: List[float]) -> float:
        return statistics.fmean(xs) if xs else 0.0

    def per_call(key: str) -> float:
        ns, n = acc[key]
        return ns / 1e3 / n if n else 0.0

    # the field cascade runs once per document that reaches it: count
    # documents, not its two calls
    fields_docs = acc["fields"][1] / 2
    return {
        "kernels.process_document_us": total / max(1, len(docs)),
        "kernels.pdf_us": mean(per_type["pdf"]),
        "kernels.html_us": mean(per_type["html"]),
        "kernels.text_us": mean(per_type["text"]),
        "kernels.sniff_us": per_call("sniff"),
        "kernels.pdf_layout_us": per_call("pdf_layout"),
        "kernels.html_extract_us": per_call("html_extract"),
        "kernels.fields_us": acc["fields"][0] / 1e3 / fields_docs if fields_docs else 0.0,
        "kernels.pdf_lenient_ratio": lenient[0] / acc["pdf_layout"][1]
        if acc["pdf_layout"][1]
        else 0.0,
    }
