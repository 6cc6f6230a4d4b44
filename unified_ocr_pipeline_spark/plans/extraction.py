"""The vectorized extraction stage: one Arrow-batched ``mapInPandas`` call.

This is the hot path. Design (SURVEY.md §4 "vectorized extraction stage"):
- ONE JVM↔Python crossing per Arrow batch (vs the reference's per-page
  Python loop, unified_ocr_pipeline.py:1161) — regexes/parsers compiled once
  per worker at module import.
- No per-row Python UDFs anywhere; the kernel loop runs inside the batch at
  C-regex speed over short strings.
- Per-batch wall time is measured inside the stage and emitted per row
  (``proc_us``), so per-partition lineage/metrics can be aggregated from the
  output without a second pass (north rule's stage timings).
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernels import document as D

# the input contract: the pages columns extract_stage consumes, with their
# types (the stream sources read with it; preflight checks inputs against it)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("label", T.StringType()),
            T.StructField("page_no", T.IntegerType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
        ]
    )
)

FIELDS_TYPE = T.StructType(
    [
        T.StructField("Whittaker_Shipper", T.StringType()),
        T.StructField("MJO_NO", T.StringType()),
        T.StructField("QTY_SHIP", T.StringType()),
        T.StructField("PART_NUMBER", T.StringType()),
        T.StructField("Promise_Delivery_Date", T.StringType()),
        T.StructField("DPAS_Rating", T.StringType()),
        T.StructField("Payment_Terms_Flag", T.StringType()),
        T.StructField("vendor", T.StringType()),
        T.StructField("vendor_number", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("amount", T.StringType()),
        T.StructField("buyer_name", T.StringType()),
        T.StructField("buyer_phone", T.StringType()),
        T.StructField("buyer_email", T.StringType()),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("total_pages", T.IntegerType()),
        T.StructField("po_page_count", T.IntegerType()),
        T.StructField("router_page_count", T.IntegerType()),
        T.StructField("total_text_length", T.LongType()),
        T.StructField("total_images", T.IntegerType()),
        T.StructField("image_counts", T.ArrayType(T.IntegerType())),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("po_number", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("fields", FIELDS_TYPE),
        T.StructField("quality_clauses", T.MapType(T.StringType(), T.StringType())),
        T.StructField("proc_us", T.LongType()),
        T.StructField("raw_bytes", T.LongType()),
    ]
)


def _extract_batches(
    batches: Iterator[pd.DataFrame], max_bytes: int
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        t0 = time.perf_counter()
        n = len(pdf)
        if n == 0:
            continue
        urls = pdf["url"].tolist()
        payloads = pdf["html"].tolist()
        texts = pdf["text"].tolist()
        raw_lens = pdf["raw_len"].tolist()
        prefixes = pdf["prefix"].tolist()

        out = {
            "url": urls,
            "warc_ts": pdf["warc_ts"].tolist(),
            "lang": pdf["lang"].tolist(),
            "partition_id": pdf["partition_id"].tolist(),
            "content_type": [],
            "status": [],
            "total_pages": [],
            "po_page_count": [],
            "router_page_count": [],
            "total_text_length": [],
            "total_images": [],
            "image_counts": [],
            "extracted_text": [],
            "po_number": [],
            "spans": [],
            "fields": [],
            "quality_clauses": [],
            "raw_bytes": [int(n) for n in raw_lens],
        }
        for url, payload, text, raw_len, prefix in zip(
            urls, payloads, texts, raw_lens, prefixes
        ):
            if raw_len > max_bytes:
                # X9 size guard, JVM-pushed: the oversized payload never
                # crossed the Arrow boundary — only its 16-byte prefix did
                # (for content-type attribution in the quarantine row).
                r = D.oversize_result(
                    url, bytes(prefix) if prefix is not None else None
                )
            else:
                r = D.process_document(
                    url,
                    bytes(payload) if payload is not None else None,
                    text if isinstance(text, str) else None,
                    max_bytes=max_bytes,
                )
            out["content_type"].append(r.content_type)
            out["status"].append(r.status)
            out["total_pages"].append(r.total_pages)
            out["po_page_count"].append(r.po_page_count)
            out["router_page_count"].append(r.router_page_count)
            out["total_text_length"].append(r.total_text_length)
            out["total_images"].append(r.total_images)
            out["image_counts"].append(list(r.image_counts))
            out["extracted_text"].append(r.extracted_text)
            out["po_number"].append(r.po_number)
            out["spans"].append(
                [
                    {"label": s.label, "page_no": s.page_no, "start": s.start, "end": s.end}
                    for s in r.spans
                ]
            )
            out["fields"].append(r.fields)
            out["quality_clauses"].append(r.quality_clauses)

        wall_us = int((time.perf_counter() - t0) * 1_000_000)
        out["proc_us"] = [wall_us // n] * n  # amortized per-row stage timing
        yield pd.DataFrame(out)


def extract_stage(
    df: DataFrame,
    max_bytes: int = D.DEFAULT_MAX_BYTES,
) -> DataFrame:
    """Apply the extraction kernel to a pages DataFrame.

    Input must have columns (url, warc_ts, html, text, lang, partition_id);
    output follows EXTRACTED_SCHEMA. Column pruning: everything except the
    needed input columns is dropped before the Python stage so only needed
    bytes cross the Arrow boundary. Url dedup is NOT this stage's job —
    the pipeline dedups inside its bucket exchange (latest crawl wins),
    where both versions of a url are guaranteed co-located.

    The size guard (X9) is pushed into the JVM projection: payloads above
    ``max_bytes`` are nulled BEFORE the Arrow transfer (only a 16-byte
    sniffing prefix and the length cross), so one 100 MB junk document can't
    stall a Python worker or blow its memory — measured 4-10× wall-clock at
    high parallelism when oversized rows are present. Callers that shuffle
    before extraction should apply ``gate_oversize`` BEFORE the exchange so
    the junk bytes never hit shuffle disk either (Catalyst does not push a
    computed projection below an Exchange on its own).
    """
    if "raw_len" not in df.columns:
        df = gate_oversize(df, max_bytes)
    pruned = df.select(
        "url", "warc_ts", "html", "prefix", "raw_len", "text", "lang", "partition_id"
    )
    return pruned.mapInPandas(
        lambda it: _extract_batches(it, max_bytes),
        schema=EXTRACTED_SCHEMA,
    )


def gate_oversize(df: DataFrame, max_bytes: int = D.DEFAULT_MAX_BYTES) -> DataFrame:
    """Null out oversized payloads (keeping a 16-byte sniffing prefix and
    the original length) so neither the shuffle nor the Arrow boundary ever
    carries bytes the kernel would discard."""
    from pyspark.sql import functions as F

    raw_len = F.coalesce(F.length("html"), F.lit(0)).cast("long")
    return df.select(
        *[c for c in df.columns if c != "html"],
        F.when(raw_len > max_bytes, F.lit(None))
        .otherwise(F.col("html"))
        .alias("html"),
        F.when(raw_len > max_bytes, F.substring("html", 1, 16)).alias("prefix"),
        raw_len.alias("raw_len"),
    )
